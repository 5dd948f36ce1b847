"""Query inventory: every operator exposed through the driver contract.

Each :class:`QuerySpec` pairs a Spark DataFrame pipeline with its exact
ANSI-SQL twin for the DuckDB oracle (the driver's correctness gate —
row-count + schema + order-insensitive value-hash at sf0.01). Rules that
keep the two in lockstep:

- identical output column NAMES on both sides (driver sorts columns by
  name before hashing);
- float aggregates rounded identically on both sides (sum→2dp for money,
  scores→6dp) — double arithmetic is deterministic per engine but
  summation order differs across engines;
- timestamps surfaced as epoch micros (``ts div 1000`` on the Spark side
  where ``ts`` is parquet-ns read as long; ``epoch_us(ts)`` in DuckDB);
- every ordering carries a total order (tie-break on the id column).

SQL-side tokenizer twin of functions/text.py::tokens:
    list_filter(string_split_regex(lower(x),'[^a-z0-9]+'), t -> t<>'')
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import catalog
from .session import fan_out, local_frame
from .functions import text as T
from .operators import asof, dedup, knn, rrf, search, topk


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


SPECS: list[QuerySpec] = []


def spec(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn):
        SPECS.append(QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc))
        return fn

    return wrap


SQL_TOKS = "list_filter(string_split_regex(lower({x}),'[^a-z0-9]+'), t -> t<>'')"


# =========================================================================
# Relational surface (SURVEY §2.2-§2.7): filters, joins, aggs, windows,
# set ops, top-k, pagination — the M1 layer the retrieval pipelines stand on.
# =========================================================================


@spec(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity),2) AS sum_qty,
           round(sum(l_extendedprice),2) AS sum_base_price,
           round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
           round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
           round(avg(l_quantity),4) AS avg_qty,
           round(avg(l_extendedprice),4) AS avg_price,
           round(avg(l_discount),4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H-Q1-style pricing summary: stats() analogue (SURVEY §2.4)",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    li = t.lineitem.filter(F.col("l_shipdate") < F.to_timestamp(F.lit("2000-01-01")))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@spec(
    "q02_top_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total,
           strftime(o_orderdate,'%Y-%m-%d') AS order_date
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "global top-k with total order → TakeOrderedAndProject (SURVEY §2.6)",
)
def q02_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return (
        t.orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@spec(
    "q03_star_join_revenue",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    "star-schema join: broadcast dims, one fact shuffle (SURVEY §2.3)",
)
def q03_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    # dims are broadcast — the fact table shuffles once for the final agg
    return (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@spec(
    "q04_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
    "top-k per group window — diversification primitive (ask.rs:1300-1334)",
)
def q04_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return topk.topk_per_group(
        t.orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).select("o_custkey", "o_orderkey", "rnk")


@spec(
    "q05_filter_pushdown_revenue",
    """
    SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    "TPC-H-Q6-style selective scan: all predicates pushed to parquet",
)
def q05_filter_pushdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@spec(
    "q06_rollup",
    """
    SELECT c_mktsegment, count(*) AS n_cust,
           round(sum(c_acctbal),2) AS sum_bal, round(avg(c_acctbal),4) AS avg_bal
    FROM customer GROUP BY ROLLUP(c_mktsegment)
    """,
    "grouping-sets surface Spark exposes beyond the reference (SURVEY §2.4)",
)
def q06_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.customer.rollup("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
    )


@spec(
    "q07_pagination",
    """
    SELECT rn, o_orderkey, strftime(o_orderdate,'%Y-%m-%d') AS order_date,
           round(o_totalprice,2) AS total
    FROM (SELECT o_orderkey, o_orderdate, o_totalprice,
                 row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
    WHERE rn > 20 AND rn <= 30
    """,
    "offset cursor pagination with stable total order (tantivy.rs:274-281)",
)
def q07_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return topk.paginate(
        t.orders, [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()], 20, 10
    ).select(
        "rn",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round("o_totalprice", 2).alias("total"),
    )


@spec(
    "q08_set_ops",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    "set ops (SURVEY §2.7): nations having both customers and suppliers",
)
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    cust = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    supp = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


# =========================================================================
# Lexical search (SURVEY §2.2, §2.5, §3.1)
# =========================================================================


@spec(
    "q10_lex_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), occ AS (
      SELECT doc_id, count(*)::double AS n FROM toks
      WHERE tok IN ('hash','join') GROUP BY doc_id
    ), scored AS (
      SELECT d.doc_id,
             coalesce(o.n, 0)
             + CASE WHEN contains(lower(d.text), 'hash join') THEN 1000.0 ELSE 0 END AS score
      FROM documents d LEFT JOIN occ o USING (doc_id)
    )
    SELECT doc_id, score FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    "legacy lex scoring: occurrences + 1000 phrase bonus (src/lex.rs:264-296)",
)
def q10_lex_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return search.lex_topk(t.documents, ["hash", "join"], phrase="hash join", k=10)


@spec(
    "q11_implicit_and",
    f"""
    SELECT doc_id FROM documents
    WHERE list_contains({SQL_TOKS.format(x='text')}, 'vector')
      AND list_contains({SQL_TOKS.format(x='text')}, 'merge')
      AND list_contains({SQL_TOKS.format(x='text')}, 'scan')
    """,
    "implicit-AND semantics (src/search/parser.rs:286-299, tests/test_implicit_and.rs)",
)
def q11_implicit_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return search.implicit_and_match(t.documents, ["vector", "merge", "scan"])


@spec(
    "q12_bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), post AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('hash','join','vector') GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, len({SQL_TOKS.format(x='text')}) AS dl FROM documents
    ), stats AS (SELECT count(*)::double AS n_docs FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    dft AS (SELECT tok, count(*)::double AS df FROM post GROUP BY tok),
    weights AS (
      SELECT p.doc_id,
             ln(1.0 + (s.n_docs - f.df + 0.5)/(f.df + 0.5))
               * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS w
      FROM post p
      JOIN dft f USING (tok)
      JOIN dl l USING (doc_id), stats s, avgdl a
    )
    SELECT doc_id, round(sum(w),6) AS score FROM weights
    GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
    """,
    "exact BM25 top-k over derived postings (engine.rs:265-290 analogue)",
)
def q12_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return search.bm25_topk(t.documents, ["hash", "join", "vector"], k=10)


@spec(
    "q13_phrase_stats",
    """
    SELECT count(*) AS n_docs,
           sum((length(lower(text)) - length(replace(lower(text), 'sort merge', '')))
               / length('sort merge')) AS n_occurrences
    FROM documents WHERE contains(lower(text), 'sort merge')
    """,
    "phrase match + occurrence count (snippet-ranking building block)",
)
def q13_phrase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    ph = "sort merge"
    lower = F.lower(F.col("text"))
    occ = (F.length(lower) - F.length(F.replace(lower, F.lit(ph), F.lit("")))) / F.length(
        F.lit(ph)
    )
    return (
        t.documents.filter(lower.contains(ph))
        .agg(F.count("*").alias("n_docs"), F.sum(occ).alias("n_occurrences"))
    )


@spec(
    "q14_field_filter_search",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE source = 'src3' AND lang = 'en'
      AND list_contains({SQL_TOKS.format(x='text')}, 'filter')
    """,
    "field filters (uri:/track:/tag: analogue — parser.rs:124-125) + term",
)
def q14_field_filter_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return (
        t.documents.filter(
            (F.col("source") == "src3")
            & (F.col("lang") == "en")
            & F.array_contains(T.tokens("text"), "filter")
        ).select("doc_id", "n_chars")
    )


@spec(
    "q15_recency_boost",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), occ AS (
      SELECT doc_id, count(*)::double AS score FROM toks
      WHERE tok = 'stream' GROUP BY doc_id
    ), ages AS (
      SELECT doc_id, score, doc_id % 730 AS ts_days,
             max(doc_id % 730) OVER () AS max_ts FROM occ
    )
    SELECT doc_id,
           round(0.4 * score + 0.6 * score * exp(-0.6931471805599453 / 30.0 * (max_ts - ts_days)), 6)
             AS combined
    FROM ages ORDER BY combined DESC, doc_id LIMIT 15
    """,
    "recency boost 0.4·s + 0.6·s·2^(-age/halflife) (tantivy.rs:201-238)",
)
def q15_recency_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    # pinned score: keeps the >0 filter from re-inlining the tokenizer
    # at the scan (functions.text.pin_expr)
    hits = t.documents.select(
        "doc_id",
        T.pin_expr(
            F.expr(
                "CAST(size(filter(array_remove(split(lower(text),"
                " '[^a-z0-9]+'), ''), x -> x = 'stream')) AS DOUBLE)"
            )
        ).alias("score"),
        (F.col("doc_id") % 730).alias("ts_days"),
    ).filter(F.col("score") > 0)
    boosted = search.recency_boosted(hits, half_life_days=30.0)
    return (
        boosted.select("doc_id", "combined")
        .orderBy(F.col("combined").desc(), F.col("doc_id").asc())
        .limit(15)
    )


@spec(
    "q16_rrf_fusion",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ),
    s1 AS (
      SELECT doc_id, count(*)::double AS score FROM toks
      WHERE tok IN ('hash','join') GROUP BY doc_id
    ),
    l1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM s1 ORDER BY score DESC, doc_id LIMIT 20
    ),
    s2 AS (
      SELECT doc_id, count(*)::double AS score FROM toks
      WHERE tok IN ('vector','scan') GROUP BY doc_id
    ),
    l2 AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM s2 ORDER BY score DESC, doc_id LIMIT 20
    ),
    unioned AS (
      SELECT doc_id, 1.0/(60 + rank) AS c FROM l1
      UNION ALL SELECT doc_id, 1.0/(60 + rank) AS c FROM l2
    )
    SELECT doc_id, round(sum(c),6) AS rrf, count(*) AS n_lists
    FROM unioned GROUP BY doc_id
    ORDER BY rrf DESC, n_lists DESC, doc_id LIMIT 10
    """,
    "reciprocal-rank fusion k=60 of two hit lists (ask.rs:1381-1432)",
)
def q16_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    l1 = rrf.with_rank(
        search.lex_topk(t.documents, ["hash", "join"], k=20),
        [F.col("score").desc(), F.col("doc_id").asc()],
    )
    l2 = rrf.with_rank(
        search.lex_topk(t.documents, ["vector", "scan"], k=20),
        [F.col("score").desc(), F.col("doc_id").asc()],
    )
    return rrf.rrf_fuse([l1, l2], k=10)


@spec(
    "q17_parsed_query",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE list_contains({SQL_TOKS.format(x='text')}, 'merge')
      AND (list_contains({SQL_TOKS.format(x='text')}, 'vector')
           OR contains(lower(text), 'hash join'))
      AND NOT list_contains({SQL_TOKS.format(x='text')}, 'slow')
      AND lang = 'en'
      AND len(list_filter({SQL_TOKS.format(x='text')}, t -> t LIKE 'str%')) > 0
    """,
    "query-language front door: boolean/phrase/field/wildcard compiled to "
    "one Catalyst predicate (src/search/parser.rs grammar)",
)
def q17_parsed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.parser import search_filter

    t = catalog.load(spark, sf_dir)
    q = 'merge AND (vector OR "hash join") NOT slow lang:en str*'
    return search_filter(t.documents, q).select("doc_id", "n_chars")


ASK_TERMS = "('hash','join','merge','performance')"

@spec(
    "q18_ask_fused",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), post AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN {ASK_TERMS} GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, len({SQL_TOKS.format(x='text')}) AS dl FROM documents
    ), stats AS (SELECT count(*)::double AS n_docs FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    dft AS (SELECT tok, count(*)::double AS df FROM post GROUP BY tok),
    weights AS (
      SELECT p.doc_id,
             ln(1.0 + (s.n_docs - f.df + 0.5)/(f.df + 0.5))
               * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS w
      FROM post p JOIN dft f USING (tok) JOIN dl l USING (doc_id), stats s, avgdl a
    ),
    bm_top AS (
      SELECT doc_id, round(sum(w),6) AS score FROM weights GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    bm_list AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm_top
    ),
    lex_scores AS (
      SELECT doc_id, count(*)::double AS score FROM toks
      WHERE tok IN {ASK_TERMS} GROUP BY doc_id
    ),
    lex_top AS (
      SELECT doc_id, score FROM lex_scores WHERE score > 0
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    lex_list AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM lex_top
    ),
    unioned AS (
      SELECT doc_id, 1.0/(60 + rank) AS c FROM bm_list
      UNION ALL SELECT doc_id, 1.0/(60 + rank) AS c FROM lex_list
    ),
    fused AS (
      SELECT doc_id, round(sum(c),6) AS rrf, count(*) AS n_lists
      FROM unioned GROUP BY doc_id
      ORDER BY rrf DESC, n_lists DESC, doc_id LIMIT 10
    ),
    pres AS (
      SELECT doc_id,
             list_contains({SQL_TOKS.format(x='text')}, 'hash')::int
           + list_contains({SQL_TOKS.format(x='text')}, 'join')::int
           + list_contains({SQL_TOKS.format(x='text')}, 'merge')::int
           + list_contains({SQL_TOKS.format(x='text')}, 'performance')::int AS n_present
      FROM documents
    )
    SELECT f.doc_id, f.rrf, f.n_lists, coalesce(p.n_present, 0) AS n_present
    FROM fused f LEFT JOIN pres p USING (doc_id)
    ORDER BY n_present DESC, rrf DESC, doc_id LIMIT 5
    """,
    "ask() deterministic core: sanitize → BM25+lex lists → RRF k=60 → "
    "token-presence reorder → top-k (src/memvid/ask.rs:23-420)",
)
def q18_ask_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ask as ask_mod

    t = catalog.load(spark, sf_dir)
    terms = ask_mod.sanitize_question(
        "what about the hash join merge performance?"
    )
    lists = ask_mod.retrieve_lists(t.documents, terms, k=20)
    fused = rrf.rrf_fuse(lists, k=10)
    reordered = ask_mod.token_presence_reorder(fused, t.documents, terms)
    return reordered.select("doc_id", "rrf", "n_lists", "n_present").limit(5)


@spec(
    "q19_snippets",
    """
    SELECT doc_id, strpos(lower(text), 'sort merge') AS pos,
           substr(lower(text), greatest(strpos(lower(text), 'sort merge') - 30, 1), 70) AS snip
    FROM documents WHERE strpos(lower(text), 'sort merge') > 0
    """,
    "snippet slices around match occurrences (src/lex.rs "
    "compute_snippet_slices; used at tantivy.rs:185-190)",
)
def q19_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ask import snippet

    t = catalog.load(spark, sf_dir)
    lower = F.lower(F.col("text"))
    pos = F.locate("sort merge", lower)
    return (
        t.documents.filter(pos > 0)
        .select("doc_id", pos.alias("pos"), snippet(F.col("text"), "sort merge").alias("snip"))
    )


@spec(
    "q118_snippet_slices",
    """
    WITH base AS (
      SELECT doc_id,
             regexp_replace(text, '((\\w+ ){6}\\w+) ', '\\1. ', 'g') AS text
      FROM documents
    ),
    d AS (
      SELECT doc_id, text, length(text) AS tlen,
             string_split(lower(text), 'table') AS parts
      FROM base
    ),
    o AS (
      SELECT doc_id, text, tlen, parts,
             unnest(generate_series(1, len(parts) - 1)) AS i
      FROM d
    ),
    pos AS (
      SELECT doc_id, text, tlen, i,
             (list_sum(list_transform(parts[1:i], x -> length(x)))::bigint
              + (i - 1) * 5) AS ostart
      FROM o
    ),
    ex AS (
      SELECT doc_id, text, tlen, i,
             greatest(ostart - 80, 0) AS s0,
             least(ostart + 5 + 80, tlen) AS e0
      FROM pos
    ),
    snap AS (
      SELECT doc_id, text, i,
        CASE WHEN strpos(reverse(translate(substring(text, 1, s0), '!?\n', '...')), '.') > 0
             THEN (s0 - strpos(reverse(translate(substring(text, 1, s0), '!?\n', '...')), '.') + 1)
                  + length(regexp_extract(substring(text,
                      s0 - strpos(reverse(translate(substring(text, 1, s0), '!?\n', '...')), '.') + 2,
                      tlen), '^[ \t\n\r\f]*'))
             ELSE s0 END AS s1,
        CASE WHEN strpos(translate(substring(text, e0 + 1, tlen), '!?', '..'), '.') > 0
                  AND (strpos(substring(text, e0 + 1, tlen), '\n') = 0
                       OR strpos(translate(substring(text, e0 + 1, tlen), '!?', '..'), '.')
                          < strpos(substring(text, e0 + 1, tlen), '\n'))
             THEN e0 + strpos(translate(substring(text, e0 + 1, tlen), '!?', '..'), '.')
             WHEN strpos(substring(text, e0 + 1, tlen), '\n') > 0
             THEN e0 + strpos(substring(text, e0 + 1, tlen), '\n') - 1
             ELSE e0 END AS e1
      FROM ex
    ),
    isl AS (
      SELECT doc_id, text, i, s1, e1,
        CASE WHEN max(e1) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR s1 > max(e1) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 20
             THEN 1 ELSE 0 END AS is_new
      FROM snap WHERE e1 > s1
    ),
    grp AS (
      SELECT doc_id, text, i, s1, e1,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    capped AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id, island ORDER BY i) AS rn
      FROM grp WHERE island <= 3
    )
    SELECT doc_id, island::bigint AS slice_rank,
           min(s1)::bigint AS snippet_start,
           replace(substring(any_value(text), min(s1) + 1, max(e1) - min(s1)),
                   '\n', ' ') AS snippet
    FROM capped WHERE island < 3 OR rn = 1
    GROUP BY doc_id, island
    """,
    "ranked snippet slices, full compute_snippet_slices parity "
    "(src/lex.rs:537-607; build_snippets:433-442, window=160 "
    "max_snippets=3): per-occurrence ±80-char expansion, sentence "
    "boundary snapping, 20-char merge, cap keeps the creator slice only "
    "— over a deterministically sentence-ified corpus so the snapping "
    "logic is actually exercised",
)
def q118_snippet_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ask import snippet_slices

    t = catalog.load(spark, sf_dir)
    sentenced = t.documents.select(
        "doc_id",
        F.regexp_replace("text", r"((\w+ ){6}\w+) ", "$1. ").alias("text"),
    )
    return snippet_slices(sentenced, "table", window=160, max_snippets=3)


@spec(
    "q120_temporal_mentions",
    """
    WITH synth AS (
      SELECT doc_id,
        'Session ' || (doc_id % 9 + 1) || ' (May ' || (doc_id % 28 + 1)
          || ', 2023)' AS header,
        CASE doc_id % 5 WHEN 0 THEN 'yesterday' WHEN 1 THEN 'last week'
             WHEN 2 THEN 'two days ago' WHEN 3 THEN 'next friday'
             ELSE 'this month' END AS phrase,
        (DATE '2023-05-01' + (doc_id % 28)::int) AS anchor
      FROM documents
    )
    SELECT doc_id, phrase,
           (length(header) + 1 + length('we met '))::bigint AS char_offset,
           length(phrase)::int AS length,
           anchor::varchar AS anchor_date,
           'explicit_header' AS anchor_source,
           0.95 AS confidence,
           CASE doc_id % 5 WHEN 1 THEN 'date_range' WHEN 4 THEN 'month'
                ELSE 'date' END AS kind,
           CASE doc_id % 5
             WHEN 0 THEN anchor - 1::int
             WHEN 1 THEN anchor - (isodow(anchor) - 1)::int - 7::int
             WHEN 2 THEN anchor - 2::int
             WHEN 3 THEN anchor + (CASE WHEN 5 - isodow(anchor) <= 0
                                        THEN 12 - isodow(anchor)
                                        ELSE 5 - isodow(anchor) END)::int
             ELSE date_trunc('month', anchor)::date
           END::varchar AS lo,
           CASE doc_id % 5
             WHEN 0 THEN anchor - 1::int
             WHEN 1 THEN anchor - (isodow(anchor) - 1)::int - 1::int
             WHEN 2 THEN anchor - 2::int
             WHEN 3 THEN anchor + (CASE WHEN 5 - isodow(anchor) <= 0
                                        THEN 12 - isodow(anchor)
                                        ELSE 5 - isodow(anchor) END)::int
             ELSE last_day(anchor)
           END::varchar AS hi
    FROM synth
    """,
    "sliding-anchor temporal mentions (src/analysis/temporal_enrich.rs): "
    "session-header anchor detection (conf 0.95) propagates through the "
    "doc — a later lower-confidence inline ISO date must NOT supersede "
    "it — then relative phrases resolve to absolute bounds with char "
    "offsets. The oracle predicts the machine's output in closed form "
    "from the synthesized corpus, so the state-machine semantics are "
    "what's actually checked",
)
def q120_temporal_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.temporal_enrich import temporal_mentions

    t = catalog.load(spark, sf_dir)
    phrase = (
        F.when(F.col("doc_id") % 5 == 0, "yesterday")
        .when(F.col("doc_id") % 5 == 1, "last week")
        .when(F.col("doc_id") % 5 == 2, "two days ago")
        .when(F.col("doc_id") % 5 == 3, "next friday")
        .otherwise("this month")
    )
    synth = t.documents.select(
        "doc_id",
        F.concat(
            F.lit("Session "), (F.col("doc_id") % 9 + 1).cast("string"),
            F.lit(" (May "), (F.col("doc_id") % 28 + 1).cast("string"),
            F.lit(", 2023)\nwe met "), phrase, F.lit(" to review"),
            # later, lower-confidence inline date — must not supersede
            F.lit("\nlogged 2023-01-15 status"),
        ).alias("text"),
    )
    return temporal_mentions(synth)


@spec(
    "q121_image_features",
    """
    WITH sel AS (
      SELECT doc_id,
             (doc_id % 13 + 4)::int AS w,
             (doc_id % 11 + 4)::int AS h,
             (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)::int
               AS ch
      FROM documents WHERE doc_id % 10 = 0),
    px AS (
      SELECT s.doc_id, s.w, s.h, s.ch,
             (s.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 15) x(x) ON x.x < s.w
      JOIN generate_series(0, 13) y(y) ON y.y < s.h
      JOIN generate_series(0, 3)  c(c) ON c.c < s.ch)
    SELECT doc_id, w AS width, h AS height, ch AS channels,
           count(*)::bigint AS n_px, sum(v)::bigint AS px_sum,
           min(v)::int AS px_min, max(v)::int AS px_max
    FROM px GROUP BY doc_id, w, h, ch
    """,
    "image feature extraction over REAL decoded pixels: each doc gets a "
    "deterministic formula image, encoded to an actual PNG (pure-stdlib "
    "writer, row filters cycling None/Sub/Up/Average/Paeth) and decoded "
    "back (zlib inflate + unfilter, sources/image.py) before per-image "
    "channel statistics. The oracle computes the SAME statistics in "
    "closed form from the pixel formula — any unfilter/palette/stride "
    "bug shifts px_sum/min/max and breaks the hash. Multimodal pixels "
    "first-class (src/clip.rs:99-102 consumes real pixels). Scale: "
    "decode runs per Arrow batch in mapInPandas; features are columnar; "
    "payloads never shuffle",
)
def q121_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.image import png_decode, png_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    cols = [
        "doc_id", "width", "height", "channels", "n_px", "px_sum",
        "px_min", "px_max",
    ]
    schema = (
        "doc_id long, width int, height int, channels int, "
        "n_px long, px_sum long, px_min int, px_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 13 + 4, did % 11 + 4
                ch = {0: 1, 1: 3, 2: 4}[did % 3]
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
                )
                px = ((did * 31 + x * 7 + y * 13 + c * 101) % 256).astype(
                    np.uint8
                )
                # real codec round-trip — the decode is what's under test
                dec = png_decode(png_encode(px)).pixels
                rows.append(
                    (
                        did, w, h, ch, int(dec.size),
                        int(dec.astype(np.int64).sum()),
                        int(dec.min()), int(dec.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


from .operators import crossmodal as _xm  # noqa: E402

_XM_QUERY = "bright wide image"
_XM_QV = _xm.text_vec(_XM_QUERY)
_XM_EMB_SQL = ",\n             ".join(
    " + ".join(
        f"f{i} * ({_xm.proj_weight(i, j)})" for i in range(_xm.N_FEATS)
    )
    + f" AS e{j}"
    for j in range(_xm.DIM)
)
_XM_DIST_SQL = " + ".join(
    f"(e{j} - ({_XM_QV[j]})) * (e{j} - ({_XM_QV[j]}))" for j in range(_xm.DIM)
)


@spec(
    "q122_crossmodal_pixels",
    f"""
    WITH sel AS (
      SELECT doc_id,
             (doc_id % 13 + 4)::int AS w,
             (doc_id % 11 + 4)::int AS h,
             (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)::int
               AS ch
      FROM documents WHERE doc_id % 10 = 0),
    px AS (
      SELECT s.doc_id, s.w, s.h, s.ch,
             (s.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 15) x(x) ON x.x < s.w
      JOIN generate_series(0, 13) y(y) ON y.y < s.h
      JOIN generate_series(0, 3)  c(c) ON c.c < s.ch),
    stats AS (
      SELECT doc_id, w, h, ch, count(*)::bigint AS n, sum(v)::bigint AS s,
             min(v)::bigint AS mn, max(v)::bigint AS mx
      FROM px GROUP BY doc_id, w, h, ch),
    feats AS (
      SELECT doc_id, w::bigint AS f0, h::bigint AS f1, ch::bigint AS f2,
             mn AS f3, mx AS f4, s % 251 AS f5, s // n AS f6, n AS f7
      FROM stats),
    emb AS (
      SELECT doc_id, {_XM_EMB_SQL}
      FROM feats),
    scored AS (SELECT doc_id AS media_id, ({_XM_DIST_SQL})::bigint AS dist2
               FROM emb),
    top AS (SELECT media_id, dist2 FROM scored
            ORDER BY dist2 ASC, media_id LIMIT 10)
    SELECT media_id, dist2,
           row_number() OVER (ORDER BY dist2 ASC, media_id) AS rank
    FROM top
    """,
    "cross-modal text→image kNN over REAL decoded pixels (clip.rs:"
    "99-102,297-380; search/api.rs:165-257): formula images → actual "
    "PNG bytes → stdlib decode → integer pixel features → shared-space "
    "projection; the text query projects into the same space and "
    "retrieval is exact squared-L2 (integer column algebra, zip_with + "
    "aggregate — JVM-side). The oracle recomputes feature extraction + "
    "both projections + the distance in closed form, so a bug anywhere "
    "in decode→embed→score breaks the hash. The deterministic towers "
    "are the injection seam a real CLIP model replaces "
    "(BatchModelEmbedder, functions/embed.py)",
)
def q122_crossmodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import crossmodal
    from .sources.image import png_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 13 + 4, mid % 11 + 4
                ch = {0: 1, 1: 3, 2: 4}[mid % 3]
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
                )
                px = ((mid * 31 + x * 7 + y * 13 + c * 101) % 256).astype(
                    np.uint8
                )
                rows.append((mid, png_encode(px)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")
    vecs = crossmodal.embed_images(media)
    return crossmodal.crossmodal_knn(vecs, _XM_QUERY, k=10)


@spec(
    "q124_audio_features",
    """
    WITH sel AS (
      SELECT doc_id,
             (doc_id % 50 + 20)::int AS n,
             (doc_id % 2 + 1)::int AS ch,
             (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                              ELSE 44100 END)::int AS rate
      FROM documents WHERE doc_id % 10 = 3),
    smp AS (
      SELECT s.doc_id, s.n, s.ch, s.rate,
             (s.doc_id * 37 + i.i * 11 + c.c * 101) % 65536 - 32768 AS v
      FROM sel s
      JOIN generate_series(0, 69) i(i) ON i.i < s.n
      JOIN generate_series(0, 1)  c(c) ON c.c < s.ch)
    SELECT doc_id AS media_id, rate AS sample_rate, ch AS channels,
           n::bigint AS n_frames, (n * 1000 // rate)::bigint AS duration_ms,
           sum(v)::bigint AS s_sum, min(v)::int AS s_min,
           max(v)::int AS s_max, sum(abs(v))::bigint AS abs_sum
    FROM smp GROUP BY doc_id, rate, ch, n
    """,
    "audio feature extraction over REAL decoded PCM samples: each doc "
    "gets a deterministic formula waveform, encoded to an actual WAV by "
    "the STDLIB wave writer (an independent implementation) and decoded "
    "back by the repo's RIFF/PCM parser (sources/audio.py) before "
    "integer waveform statistics. The oracle computes the SAME stats in "
    "closed form from the sample formula — any chunk-walk / sample-width "
    "/ channel-interleave bug shifts s_sum/min/max/abs_sum and breaks "
    "the hash. Multimodal audio first-class (src/whisper.rs:49-116 "
    "consumes real samples; src/types/metadata.rs audio fields). Scale: "
    "decode runs per Arrow batch in mapInPandas; payloads never shuffle",
)
def q124_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.audio import audio_features, wav_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n, ch = mid % 50 + 20, mid % 2 + 1
                rate = {0: 8000, 1: 16000, 2: 44100}[mid % 3]
                i, c = np.meshgrid(np.arange(n), np.arange(ch), indexing="ij")
                v = ((mid * 37 + i * 11 + c * 101) % 65536 - 32768).astype(
                    np.int16
                )
                rows.append((mid, wav_encode(v, rate)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")
    return audio_features(media)


@spec(
    "q125_audio_segments",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 512 + 256)::int AS n
      FROM documents WHERE doc_id % 10 = 7),
    smp AS (
      SELECT s.doc_id, i.i // 64 AS w,
             ((s.doc_id * 37 + i.i * 11) % 16384 - 8192)
               * ((i.i // 64 + s.doc_id) % 3) AS v
      FROM sel s
      JOIN generate_series(0, 767) i(i) ON i.i < (s.n // 64) * 64),
    win AS (SELECT doc_id, w, sum(v * v)::bigint AS e
            FROM smp GROUP BY doc_id, w),
    hot AS (SELECT doc_id, w, e,
                   w - row_number() OVER (PARTITION BY doc_id ORDER BY w)
                     AS grp
            FROM win WHERE e > 0),
    seg AS (SELECT doc_id AS media_id, min(w)::int AS w_start,
                   max(w)::int AS w_end, count(*)::int AS n_windows,
                   sum(e)::bigint AS energy
            FROM hot GROUP BY doc_id, grp)
    SELECT media_id,
           (row_number() OVER (PARTITION BY media_id ORDER BY w_start) - 1)
             ::int AS seg_index,
           w_start, w_end, n_windows, energy,
           (w_start * 4)::bigint AS t_start_ms,
           ((w_end + 1) * 4)::bigint AS t_end_ms
    FROM seg
    """,
    "energy-based audio activity segmentation over REAL decoded samples "
    "— the VAD front half of the reference's audio→timed-segments path "
    "(src/whisper.rs:49-116; the model is an injection seam, the "
    "windowing is not): amplitude-modulated formula waveforms (every "
    "third 64-sample window silent) → stdlib-wave encode → repo RIFF "
    "decode → per-window energy → consecutive hot windows merged into "
    "segments with ms timestamps. The oracle recomputes windowing + "
    "gaps-and-islands merging in closed form. Scale: segmentation is "
    "per-payload inside mapInPandas — embarrassingly parallel, no "
    "shuffle; the segment table is the only output",
)
def q125_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.audio import audio_energy_segments, wav_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = mid % 512 + 256
                i = np.arange(n)
                v = (
                    ((mid * 37 + i * 11) % 16384 - 8192)
                    * ((i // 64 + mid) % 3)
                ).astype(np.int16)
                rows.append((mid, wav_encode(v, 16000)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")
    return audio_energy_segments(media, win=64, threshold=0)


@spec(
    "q126_video_manifest",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 20 + 5)::int AS nv, (doc_id % 15 + 5)::int AS na,
             (doc_id % 4 + 2)::int AS kf
      FROM documents WHERE doc_id % 10 = 1),
    vs AS (
      SELECT s.doc_id, s.nv, s.kf, i.i,
             (s.doc_id * 7 + i.i * 13) % 40 + 8 AS sz,
             (i.i % 2 + 1) * 100 AS dur
      FROM sel s JOIN generate_series(0, 24) i(i) ON i.i < s.nv),
    vb AS (
      SELECT v.doc_id, sum((v.doc_id + v.i + j.j) % 256)::bigint AS bsum
      FROM vs v JOIN generate_series(0, 47) j(j) ON j.j < v.sz
      GROUP BY v.doc_id),
    vtr AS (
      SELECT v.doc_id AS media_id, 1::int AS track_id, 'vide' AS handler,
             'mp4v' AS codec, count(*)::bigint AS n_samples,
             sum(v.sz)::bigint AS total_bytes, sum(v.dur)::bigint AS duration_ms,
             ((max(v.nv) + max(v.kf) - 1) // max(v.kf))::bigint AS n_keyframes,
             max(b.bsum) AS byte_sum
      FROM vs v JOIN vb b ON b.doc_id = v.doc_id GROUP BY v.doc_id),
    asx AS (
      SELECT s.doc_id, s.na, i.i, (s.doc_id * 5 + i.i * 3) % 20 + 4 AS sz
      FROM sel s JOIN generate_series(0, 19) i(i) ON i.i < s.na),
    ab AS (
      SELECT a.doc_id, sum((a.doc_id * 3 + a.i * 5 + j.j * 7) % 256)::bigint
               AS bsum
      FROM asx a JOIN generate_series(0, 23) j(j) ON j.j < a.sz
      GROUP BY a.doc_id),
    atr AS (
      SELECT a.doc_id AS media_id, 2::int AS track_id, 'soun' AS handler,
             'mp4a' AS codec, count(*)::bigint AS n_samples,
             sum(a.sz)::bigint AS total_bytes,
             (count(*) * 160)::bigint AS duration_ms,
             count(*)::bigint AS n_keyframes, max(b.bsum) AS byte_sum
      FROM asx a JOIN ab b ON b.doc_id = a.doc_id GROUP BY a.doc_id)
    SELECT * FROM vtr UNION ALL SELECT * FROM atr
    """,
    "video MediaManifest over a REAL ISO-BMFF demux (src/types/"
    "metadata.rs MediaManifest; src/lib.rs:1251-1313): formula-driven "
    "two-track fixtures (chunk-grouped samples with a ragged final "
    "chunk, stts delta runs, stss keyframe table) are muxed into actual "
    "spec-shaped MP4 bytes, then the manifest is computed by walking "
    "boxes and resolving stsc/stco/stsz down to each sample's absolute "
    "byte range — byte_sum sums the bytes ACTUALLY extracted from those "
    "ranges, so a wrong chunk-offset or size resolution reads the wrong "
    "bytes and breaks the hash. Codec bitstream decode stays an "
    "injection seam (sources/video.py). Scale: demux per Arrow batch in "
    "mapInPandas; payloads never shuffle",
)
def q126_video_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.video import MuxTrack, mp4_mux, video_manifests

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 1).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                nv, na, kf = mid % 20 + 5, mid % 15 + 5, mid % 4 + 2
                vid = [
                    bytes(
                        (mid + i + j) % 256
                        for j in range((mid * 7 + i * 13) % 40 + 8)
                    )
                    for i in range(nv)
                ]
                aud = [
                    bytes(
                        (mid * 3 + i * 5 + j * 7) % 256
                        for j in range((mid * 5 + i * 3) % 20 + 4)
                    )
                    for i in range(na)
                ]
                payload = mp4_mux(
                    [
                        MuxTrack(
                            "vide", "mp4v", vid,
                            [(i % 2 + 1) * 100 for i in range(nv)],
                            samples_per_chunk=3, sync_every=kf,
                            width=64, height=48,
                        ),
                        MuxTrack(
                            "soun", "mp4a", aud, [160] * na,
                            samples_per_chunk=2,
                        ),
                    ]
                )
                rows.append((mid, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")
    return video_manifests(media)


@spec(
    "q127_bmp_gif_pixels",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 12 + 3)::int AS w, (doc_id % 9 + 3)::int AS h
      FROM documents WHERE doc_id % 10 = 9),
    px AS (
      SELECT s.doc_id, s.w, s.h,
             CASE WHEN s.doc_id % 2 = 0
                  THEN (s.doc_id*31 + x.x*7 + y.y*13 + c.c*101) % 256
                  ELSE (((s.doc_id*31 + x.x*7 + y.y*13) % 256)
                        * (CASE c.c WHEN 0 THEN 5 WHEN 1 THEN 11 ELSE 17 END)
                        + c.c + 1) % 256
             END AS v
      FROM sel s
      JOIN generate_series(0, 14) x(x) ON x.x < s.w
      JOIN generate_series(0, 11) y(y) ON y.y < s.h
      CROSS JOIN generate_series(0, 2) c(c))
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'gif' END AS fmt,
           w AS width, h AS height, 3::int AS channels,
           count(*)::bigint AS n_px, sum(v)::bigint AS px_sum,
           min(v)::int AS px_min, max(v)::int AS px_max
    FROM px GROUP BY doc_id, w, h
    """,
    "second and third first-class image formats over REAL decoded "
    "pixels: even docs render the formula image as an actual 24-bit "
    "BI_RGB BMP (BGR bottom-up rows, 4-byte stride padding), odd docs "
    "as a palette GIF (256-entry table, real LZW compression) — both "
    "round-trip through the pure-stdlib decoders (sources/image.py) "
    "before channel statistics. The oracle computes the same stats in "
    "closed form incl. the palette mapping, so a BGR-swap, stride, "
    "palette or LZW bug breaks the hash. Same mapInPandas shape as "
    "q121; payloads never shuffle",
)
def q127_bmp_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.image import bmp_encode, gif_encode
    from .sources.multimodal import decode_image

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 9).select(
        F.col("doc_id").alias("media_id")
    )
    cols = [
        "media_id", "fmt", "width", "height", "channels", "n_px",
        "px_sum", "px_min", "px_max",
    ]
    schema = (
        "media_id long, fmt string, width int, height int, channels int, "
        "n_px long, px_sum long, px_min int, px_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        pal = np.stack(
            [
                (np.arange(256) * 5 + 1) % 256,
                (np.arange(256) * 11 + 2) % 256,
                (np.arange(256) * 17 + 3) % 256,
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 12 + 3, mid % 9 + 3
                y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                if mid % 2 == 0:
                    c = np.arange(3)
                    px = (
                        (mid * 31 + x[:, :, None] * 7 + y[:, :, None] * 13
                         + c * 101) % 256
                    ).astype(np.uint8)
                    payload, fmt = bmp_encode(px), "bmp"
                else:
                    idx = ((mid * 31 + x * 7 + y * 13) % 256).astype(np.uint8)
                    payload, fmt = gif_encode(idx, pal), "gif"
                dec = np.asarray(
                    decode_image(payload, f"image/{fmt}"), dtype=np.int64
                )
                rows.append(
                    (
                        mid, fmt, w, h, int(dec.shape[2]), int(dec.size),
                        int(dec.sum()), int(dec.min()), int(dec.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


@spec(
    "q128_jpeg_pixels",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 20 + 5)::int AS w, (doc_id % 15 + 5)::int AS h
      FROM documents WHERE doc_id % 10 = 5),
    px AS (
      SELECT s.doc_id, s.w, s.h,
             (s.doc_id * 31 + (x.x // 8) * 7 + (y.y // 8) * 13) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 24) x(x) ON x.x < s.w
      JOIN generate_series(0, 19) y(y) ON y.y < s.h)
    SELECT doc_id AS media_id, w AS width, h AS height,
           count(*)::bigint AS n_px, sum(v)::bigint AS px_sum,
           min(v)::int AS px_min, max(v)::int AS px_max
    FROM px GROUP BY doc_id, w, h
    """,
    "baseline JPEG decode over REAL entropy-coded bytes (pure-stdlib "
    "codec, sources/jpeg.py: DHT huffman tables, DC prediction, EOB "
    "runs, dequant, orthonormal IDCT, level shift): formula images "
    "constant per 8x8 tile are encoded with unit quantization — the "
    "DCT then has a single DC coefficient per block, so the round trip "
    "is EXACT and the oracle pins the decoded pixels in closed form. "
    "Ragged right/bottom blocks exercise edge-replicate padding + crop. "
    "General images are pinned within ±2 by tests (IDCT rounding). The "
    "format the reference actually ingests most (src/clip.rs:99-102). "
    "Scale: same mapInPandas shape as q121; payloads never shuffle",
)
def q128_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.jpeg import jpeg_decode, jpeg_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 5).select(
        F.col("doc_id").alias("media_id")
    )
    cols = ["media_id", "width", "height", "n_px", "px_sum", "px_min", "px_max"]
    schema = (
        "media_id long, width int, height int, n_px long, px_sum long, "
        "px_min int, px_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 20 + 5, mid % 15 + 5
                y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                img = ((mid * 31 + (x // 8) * 7 + (y // 8) * 13) % 256).astype(
                    np.uint8
                )
                dec = np.asarray(jpeg_decode(jpeg_encode(img)), dtype=np.int64)
                rows.append(
                    (
                        mid, w, h, int(dec.size), int(dec.sum()),
                        int(dec.min()), int(dec.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


@spec(
    "q129_image_resize",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 13 + 4)::int AS w, (doc_id % 11 + 4)::int AS h,
             (doc_id % 6 + 2)::int AS ow, (doc_id % 5 + 2)::int AS oh
      FROM documents WHERE doc_id % 10 = 4),
    px AS (
      SELECT s.doc_id, s.ow, s.oh,
             (s.doc_id * 31 + ((x.x * s.w) // s.ow) * 7
              + ((y.y * s.h) // s.oh) * 13 + c.c * 101) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 7) x(x) ON x.x < s.ow
      JOIN generate_series(0, 6) y(y) ON y.y < s.oh
      CROSS JOIN generate_series(0, 2) c(c))
    SELECT doc_id AS media_id, ow AS out_w, oh AS out_h,
           count(*)::bigint AS n_px, sum(v)::bigint AS px_sum,
           min(v)::int AS px_min, max(v)::int AS px_max
    FROM px GROUP BY doc_id, ow, oh
    """,
    "image resize over REAL decoded pixels — the transform tier of the "
    "multimodal pipeline (decode → resize → model input; src/clip.rs:"
    "99-102 resizes before embedding): formula RGB images → actual PNG "
    "bytes → stdlib decode → nearest-neighbor resize with the floor "
    "convention, which is integer-exact, so the oracle pins every "
    "RESIZED pixel in closed form (source-index arithmetic inside the "
    "SQL). Bilinear (the align-corners=False ML convention) is the "
    "companion path, pinned by tests. mapInPandas; payloads never "
    "shuffle",
)
def q129_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.image import png_decode, png_encode, resize_nearest

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 4).select(
        F.col("doc_id").alias("media_id")
    )
    cols = ["media_id", "out_w", "out_h", "n_px", "px_sum", "px_min", "px_max"]
    schema = (
        "media_id long, out_w int, out_h int, n_px long, px_sum long, "
        "px_min int, px_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 13 + 4, mid % 11 + 4
                ow, oh = mid % 6 + 2, mid % 5 + 2
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = ((mid * 31 + x * 7 + y * 13 + c * 101) % 256).astype(
                    np.uint8
                )
                dec = png_decode(png_encode(px)).pixels
                rs = np.asarray(resize_nearest(dec, oh, ow), dtype=np.int64)
                rows.append(
                    (
                        mid, ow, oh, int(rs.size), int(rs.sum()),
                        int(rs.min()), int(rs.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


@spec(
    "q130_audio_resample",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 100 + 50)::int AS n,
             (CASE doc_id % 2 WHEN 0 THEN 44100 ELSE 22050 END)::int AS rate
      FROM documents WHERE doc_id % 10 = 6),
    smp AS (
      SELECT s.doc_id, s.n, s.rate,
             (s.doc_id * 37 + ((j.j * s.rate) // 16000) * 11) % 65536
               - 32768 AS v
      FROM sel s
      JOIN generate_series(0, 149) j(j) ON j.j < (s.n * 16000) // s.rate)
    SELECT doc_id AS media_id, rate AS src_rate,
           count(*)::bigint AS n_out, sum(v)::bigint AS s_sum,
           min(v)::int AS s_min, max(v)::int AS s_max
    FROM smp GROUP BY doc_id, rate
    """,
    "audio resample over REAL decoded samples — the fixed-rate "
    "model-input transform (src/whisper.rs consumes 16 kHz mono): "
    "formula waveforms at 44.1/22.05 kHz → stdlib-wave encode → repo "
    "RIFF decode → zero-order-hold resample to 16 kHz with the floor "
    "convention, integer-exact, so the oracle pins every resampled "
    "value in closed form. mapInPandas; payloads never shuffle",
)
def q130_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.audio import resample_nearest, wav_decode, wav_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 6).select(
        F.col("doc_id").alias("media_id")
    )
    cols = ["media_id", "src_rate", "n_out", "s_sum", "s_min", "s_max"]
    schema = (
        "media_id long, src_rate int, n_out long, s_sum long, "
        "s_min int, s_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = mid % 100 + 50
                rate = 44100 if mid % 2 == 0 else 22050
                v = ((mid * 37 + np.arange(n) * 11) % 65536 - 32768).astype(
                    np.int16
                )
                a = wav_decode(wav_encode(v, rate))
                out = np.asarray(
                    resample_nearest(a.samples[:, 0], a.sample_rate, 16000),
                    dtype=np.int64,
                )
                rows.append(
                    (
                        mid, rate, int(out.size), int(out.sum()),
                        int(out.min()), int(out.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


@spec(
    "q131_bpe_pair_counts",
    f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS.format(x='text')}) AS word FROM documents),
    wf AS (SELECT word, count(*)::bigint AS freq FROM toks GROUP BY word),
    prs AS (
      SELECT substr(w.word, i.i, 1) AS a, substr(w.word, i.i + 1, 1) AS b,
             w.freq
      FROM wf w
      JOIN generate_series(1, 63) i(i) ON i.i <= length(w.word) - 1),
    pc AS (SELECT a, b, sum(freq)::bigint AS n FROM prs GROUP BY a, b),
    top AS (SELECT a, b, n FROM pc ORDER BY n DESC, a, b LIMIT 20)
    SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rank
    FROM top
    """,
    "the BPE-training kernel (Sennrich 2016; the GPT-2 trainer's inner "
    "loop): freq-weighted adjacent-symbol pair counts over the "
    "DISTINCT-WORD table — the argmax of this table IS the next merge. "
    "Scale: the corpus is scanned once for word frequencies; pair "
    "counting explodes symbol arrays JVM-side (sequence/transform, no "
    "Python) and shuffles only distinct pairs with map-side partial "
    "aggregation. The full trainer (functions/bpe.py train_bpe) runs "
    "the sequential merge loop driver-side over the collected capped "
    "word table — ONE Spark job for K merges, identical output to the "
    "per-round distributed loop (train_bpe_rounds), equality pinned by "
    "tests — this query oracle-checks round 0 exactly",
)
def q131_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .functions.bpe import _pair_counts, word_frequencies

    t = catalog.load(spark, sf_dir)
    words = word_frequencies(t.documents).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
    )
    top = (
        _pair_counts(words)
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
    return top.select("a", "b", "n", F.row_number().over(w).alias("rank"))


@spec(
    "q132_srt_segments",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 6 + 2)::int AS n
      FROM documents WHERE doc_id % 10 = 2),
    seg AS (
      SELECT s.doc_id, i.i,
             (i.i * 2000 + s.doc_id % 500)::bigint AS t0,
             (i.i * 2000 + s.doc_id % 500 + 1500 + (i.i % 3) * 100)::bigint
               AS t1
      FROM sel s JOIN generate_series(0, 7) i(i) ON i.i < s.n)
    SELECT doc_id AS media_id, i::int AS seg_index, t0 AS t_start_ms,
           t1 AS t_end_ms, (t1 - t0) AS duration_ms,
           CASE WHEN i % 2 = 0 THEN 'cue ' || doc_id || ' ' || i
                ELSE 'cue ' || doc_id || ' ' || i || chr(10) || 'extra line'
           END AS text,
           (CASE WHEN i % 2 = 0 THEN 3 ELSE 5 END)::int AS n_words
    FROM seg
    """,
    "subtitle (SRT) parsing — the text half of A/V training pairs, the "
    "same (t_start, t_end, text) shape the reference's transcription "
    "emits (src/whisper.rs:49-116) arriving as data: formula cue tables "
    "are serialized to real SRT text (timestamps, counters, multi-line "
    "cues) and re-parsed by the strict-timestamp/tolerant-layout parser "
    "(sources/subtitles.py) before the oracle pins every time and cue "
    "text in closed form. CRLF/BOM/VTT variants are pinned by tests. "
    "Scale: parse per Arrow batch; segments join manifests by range, "
    "never via UDF",
)
def q132_srt_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.subtitles import srt_write, subtitle_segments

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 2).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                segs = []
                for i in range(mid % 6 + 2):
                    t0 = i * 2000 + mid % 500
                    t1 = t0 + 1500 + (i % 3) * 100
                    txt = f"cue {mid} {i}"
                    if i % 2 == 1:
                        txt += "\nextra line"
                    segs.append((t0, t1, txt))
                rows.append((mid, srt_write(segs)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    subs = fan_out(sel).mapInPandas(gen, "media_id long, content string")
    return subtitle_segments(subs, fmt="srt")


@spec(
    "q133_av_alignment",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 512 + 256)::int AS n,
             (doc_id % 5 + 2)::int AS m
      FROM documents WHERE doc_id % 10 = 7),
    smp AS (
      SELECT s.doc_id, i.i // 64 AS w,
             ((s.doc_id * 37 + i.i * 11) % 16384 - 8192)
               * ((i.i // 64 + s.doc_id) % 3) AS v
      FROM sel s
      JOIN generate_series(0, 767) i(i) ON i.i < (s.n // 64) * 64),
    win AS (SELECT doc_id, w, sum(v * v)::bigint AS e
            FROM smp GROUP BY doc_id, w),
    hot AS (SELECT doc_id, w,
                   w - row_number() OVER (PARTITION BY doc_id ORDER BY w)
                     AS grp
            FROM win WHERE e > 0),
    aseg AS (SELECT doc_id, min(w) AS ws, max(w) AS we
             FROM hot GROUP BY doc_id, grp),
    a AS (SELECT doc_id AS media_id,
                 (row_number() OVER (PARTITION BY doc_id ORDER BY ws) - 1)
                   ::int AS a_index,
                 (ws * 4)::bigint AS a0, ((we + 1) * 4)::bigint AS a1
          FROM aseg),
    c AS (SELECT s.doc_id AS media_id, j.j::int AS b_index,
                 (j.j * 12 + s.doc_id % 9)::bigint AS c0,
                 (j.j * 12 + s.doc_id % 9 + 10)::bigint AS c1
          FROM sel s JOIN generate_series(0, 6) j(j) ON j.j < s.m)
    SELECT a.media_id, a.a_index, c.b_index,
           greatest(a.a0, c.c0) AS ov_start_ms,
           least(a.a1, c.c1) AS ov_end_ms,
           (least(a.a1, c.c1) - greatest(a.a0, c.c0)) AS ov_ms
    FROM a JOIN c ON c.media_id = a.media_id
                 AND a.a0 < c.c1 AND c.c0 < a.a1
    """,
    "composed A/V-text alignment — the join a multimodal training "
    "pipeline runs to pair caption text with detected speech: REAL "
    "decoded audio (WAV round trip → energy segmentation, the q125 "
    "path) overlap-joined with REAL parsed subtitles (SRT round trip, "
    "the q132 path) via the banded interval equi-join "
    "(operators/align.py — the banded_pairs pattern, never an "
    "inequality nested loop). The oracle recomputes both segment "
    "tables in closed form and joins on the same strict-overlap "
    "predicate, so a bug in decode, windowing, parsing, banding or "
    "dedupe breaks the hash",
)
def q133_av_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.align import interval_overlap_join
    from .sources.audio import audio_energy_segments, wav_encode
    from .sources.subtitles import srt_write, subtitle_segments

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("media_id")
    )

    def gen_wav(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = mid % 512 + 256
                i = np.arange(n)
                v = (
                    ((mid * 37 + i * 11) % 16384 - 8192)
                    * ((i // 64 + mid) % 3)
                ).astype(np.int16)
                rows.append((mid, wav_encode(v, 16000)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    def gen_srt(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                segs = []
                for j in range(mid % 5 + 2):
                    s0 = j * 12 + mid % 9
                    segs.append((s0, s0 + 10, f"cue {j}"))
                rows.append((mid, srt_write(segs)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = fan_out(sel).mapInPandas(gen_wav, "media_id long, payload binary")
    audio = audio_energy_segments(media, win=64, threshold=0).select(
        "media_id", "seg_index", "t_start_ms", "t_end_ms"
    )
    subs = subtitle_segments(
        fan_out(sel).mapInPandas(gen_srt, "media_id long, content string")
    ).select("media_id", "seg_index", "t_start_ms", "t_end_ms")
    return interval_overlap_join(audio, subs, band_ms=16)


@spec(
    "q134_media_clean_corpus",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id // 10) % 4 AS kind
      FROM documents WHERE doc_id % 10 = 8),
    img AS (
      SELECT doc_id, (doc_id % 12 + 4)::int AS w, (doc_id % 10 + 4)::int AS h
      FROM sel WHERE kind = 0),
    ipx AS (
      -- pixels (0,0)/(0,1) carry the doc id so distinct docs can never
      -- produce byte-identical images (the 31*did%256 formula repeats
      -- with period lcm(256,12,10)=3840 otherwise and dedup would
      -- correctly collapse them)
      SELECT i.doc_id, count(*)::bigint AS n_units,
             sum(CASE WHEN y.y = 0 AND x.x = 0 THEN i.doc_id % 256
                      WHEN y.y = 0 AND x.x = 1 THEN (i.doc_id // 256) % 256
                      ELSE (i.doc_id * 31 + x.x * 7 + y.y * 13) % 256
                 END)::bigint AS v_sum
      FROM img i
      JOIN generate_series(0, 15) x(x) ON x.x < i.w
      JOIN generate_series(0, 13) y(y) ON y.y < i.h
      GROUP BY i.doc_id),
    aud AS (
      SELECT doc_id, (doc_id % 200 + 50)::int AS n
      FROM sel WHERE kind = 1),
    apx AS (
      SELECT a.doc_id, count(*)::bigint AS n_units,
             sum((a.doc_id * 37 + i.i * 11) % 65536 - 32768)::bigint AS v_sum
      FROM aud a JOIN generate_series(0, 249) i(i) ON i.i < a.n
      GROUP BY a.doc_id)
    SELECT doc_id AS media_id, 'image' AS modality, n_units, v_sum
    FROM ipx WHERE n_units >= 60
    UNION ALL
    SELECT doc_id AS media_id, 'audio' AS modality, n_units, v_sum
    FROM apx WHERE n_units >= 100
    """,
    "composed multimodal clean-corpus pipeline — the media twin of "
    "q109: a mixed corpus (formula PNGs, WAVs, planted byte-exact "
    "DUPLICATES of each 40-block's canonical image, and corrupt "
    "payloads) flows through real decode with the error channel "
    "(corrupt rows gated, not fatal) → modality quality gates "
    "(min-resolution / min-duration) → exact dedup by payload sha256 "
    "keeping the smallest media_id. The oracle reduces to exactly the "
    "kind-0/kind-1 survivors in closed form: every dup and corrupt row "
    "the pipeline fails to drop, or good row it wrongly drops, breaks "
    "the hash. Scale: decode/stat per Arrow batch; dedup is a "
    "checksum groupBy (hash shuffle of tiny digests); gates are "
    "column predicates",
)
def q134_media_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.audio import wav_decode, wav_encode
    from .sources.image import png_decode, png_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 8).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        def png_of(did):
            w, h = did % 12 + 4, did % 10 + 4
            y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            px = ((did * 31 + x * 7 + y * 13) % 256).astype(np.uint8)
            # id stamp → payloads injective across docs (oracle mirrors)
            px[0, 0] = did % 256
            px[0, 1] = (did >> 8) % 256
            return png_encode(px)

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                kind = (mid // 10) % 4
                if kind == 0:
                    payload = png_of(mid)
                elif kind == 1:
                    n = mid % 200 + 50
                    v = ((mid * 37 + np.arange(n) * 11) % 65536 - 32768).astype(
                        np.int16
                    )
                    payload = wav_encode(v, 16000)
                elif kind == 2:  # byte-exact duplicate of the block base
                    payload = png_of((mid // 40) * 40 + 8)
                else:  # corrupt media
                    payload = b"CORRUPT" + mid.to_bytes(4, "big")
                rows.append((mid, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")

    def stats(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cols = ["media_id", "modality", "n_units", "v_sum", "checksum", "err"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                digest = hashlib.sha256(b).hexdigest()
                try:
                    if b[:8] == b"\x89PNG\r\n\x1a\n":
                        px = png_decode(b).pixels.astype(np.int64)
                        row = (int(mid), "image", int(px.size), int(px.sum()),
                               digest, None)
                    elif b[:4] == b"RIFF":
                        a = wav_decode(b)
                        s = np.asarray(a.centered(), dtype=np.int64)
                        row = (int(mid), "audio", a.n_frames, int(s.sum()),
                               digest, None)
                    else:
                        raise ValueError("unrecognized media payload")
                except Exception as e:
                    row = (int(mid), None, None, None, digest,
                           f"{type(e).__name__}: {e}")
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    feats = media.mapInPandas(
        stats,
        "media_id long, modality string, n_units bigint, v_sum bigint, "
        "checksum string, err string",
    )
    ok = feats.filter(F.col("err").isNull())
    keeper = ok.groupBy("checksum").agg(F.min("media_id").alias("media_id"))
    deduped = ok.join(keeper, ["checksum", "media_id"])
    gated = deduped.filter(
        ((F.col("modality") == "image") & (F.col("n_units") >= 60))
        | ((F.col("modality") == "audio") & (F.col("n_units") >= 100))
    )
    return gated.select("media_id", "modality", "n_units", "v_sum")


@spec(
    "q135_warc_records",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 4 + 2)::int AS k
      FROM documents WHERE doc_id % 10 = 0),
    rec AS (
      SELECT s.doc_id, r.r FROM sel s
      JOIN generate_series(0, 5) r(r) ON r.r < s.k)
    SELECT doc_id AS archive_id, r::int AS rec_index,
           'http://site' || (doc_id % 50) || '.example/p' || r AS uri,
           '2024-01-01T00:00:'
             || lpad(((doc_id + r) % 60)::varchar, 2, '0') || 'Z'
             AS warc_date,
           (CASE WHEN r % 2 = 0 THEN 200 ELSE 404 END)::int AS http_status,
           CASE WHEN r % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS mime,
           length('page ' || doc_id || ' rec ' || r)::bigint AS body_len,
           'page ' || doc_id || ' rec ' || r AS body
    FROM rec
    """,
    "WARC (ISO 28500) web-archive ingestion — the format web-scale "
    "training corpora actually arrive in (Common Crawl): formula "
    "archives are serialized to real WARC bytes (warcinfo + request "
    "records interleaved to exercise type filtering; odd docs gzip "
    "each record as its own member, the Common Crawl layout) and "
    "re-parsed by the strict-framing parser (sources/warc.py: "
    "Content-Length-governed blocks, multi-member gunzip, HTTP "
    "status/header/body split). The oracle pins every response "
    "record's uri/date/status/mime/body in closed form. Scale: one "
    "archive per row, parse per Arrow batch, bodies truncated at the "
    "source",
)
def q135_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import warc_records, warc_write

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("archive_id")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid in pdf["archive_id"]:
                aid = int(aid)
                recs = [{"warc_type": "warcinfo", "block": b"software: t\r\n"}]
                for r in range(aid % 4 + 2):
                    uri = f"http://site{aid % 50}.example/p{r}"
                    recs.append(
                        {"warc_type": "request", "uri": uri,
                         "block": b"GET / HTTP/1.1\r\n"}
                    )
                    recs.append(
                        {
                            "warc_type": "response",
                            "uri": uri,
                            "date": f"2024-01-01T00:00:{(aid + r) % 60:02d}Z",
                            "http_status": 200 if r % 2 == 0 else 404,
                            "mime": "text/html" if r % 2 == 0 else "text/plain",
                            "body": f"page {aid} rec {r}".encode(),
                        }
                    )
                rows.append(
                    (aid, warc_write(recs, gzip_members=aid % 2 == 1))
                )
            yield pd.DataFrame(rows, columns=["archive_id", "payload"])

    archives = fan_out(sel).mapInPandas(gen, "archive_id long, payload binary")
    return warc_records(archives)


@spec(
    "q136_url_normalize",
    """
    WITH sel AS (SELECT doc_id, doc_id % 50 AS s FROM documents),
    dirty AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'HTTP://WWW.Site' || s || '.Example:80/Doc'
                           || doc_id || '?b=2&a=1#sec'
               WHEN 1 THEN 'HTTPS://Site' || s || '.Example:8443/dir/Page#x'
               ELSE 'https://Host' || s || '.Example:443'
             END AS url
      FROM sel),
    expect AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'http://www.site' || (doc_id % 50)
                           || '.example/Doc' || doc_id || '?b=2&a=1'
               WHEN 1 THEN 'https://site' || (doc_id % 50)
                           || '.example:8443/dir/Page'
               ELSE 'https://host' || (doc_id % 50) || '.example/'
             END AS url_norm,
             CASE doc_id % 3
               WHEN 0 THEN 'site' || (doc_id % 50) || '.example'
               WHEN 1 THEN 'site' || (doc_id % 50) || '.example'
               ELSE 'host' || (doc_id % 50) || '.example'
             END AS domain,
             CASE doc_id % 3
               WHEN 0 THEN '/Doc' || doc_id
               WHEN 1 THEN '/dir/Page'
               ELSE '/'
             END AS path
      FROM sel)
    SELECT doc_id, url_norm, domain, path FROM expect
    """,
    "URL canonicalization — the dedup/grouping key of a web corpus "
    "(post-WARC): lowercase scheme+host, strip default ports and "
    "fragments, default empty path, preserve path case and query "
    "verbatim, www-stripped domain. All regexp_extract/string column "
    "algebra (functions/urls.py) — whole-stage codegen, no Python, "
    "scan-speed over billions of URLs. The oracle constructs the "
    "expected canonical forms in closed form from the same dirty "
    "inputs the Spark side actually normalizes",
)
def q136_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.urls import url_domain, url_normalize, url_path

    t = catalog.load(spark, sf_dir)
    s = (F.col("doc_id") % 50).cast("string")
    did = F.col("doc_id").cast("string")
    dirty = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTP://WWW.Site"), s, F.lit(".Example:80/Doc"), did,
                F.lit("?b=2&a=1#sec"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("HTTPS://Site"), s, F.lit(".Example:8443/dir/Page#x")),
        )
        .otherwise(F.concat(F.lit("https://Host"), s, F.lit(".Example:443")))
    )
    u = t.documents.select("doc_id", dirty.alias("url"))
    return u.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        url_domain(F.col("url")).alias("domain"),
        url_path(F.col("url")).alias("path"),
    )


@spec(
    "q137_html_extract",
    """
    WITH expect AS (
      SELECT doc_id,
             'Doc ' || doc_id AS title,
             'Heading ' || (doc_id % 7) || chr(10)
               || 'Para with bold ' || doc_id || ' and link.'
               || CASE WHEN doc_id % 2 = 1
                       THEN chr(10) || 'item one' || chr(10)
                            || 'item ' || (doc_id % 3)
                       ELSE '' END AS text
      FROM documents)
    SELECT doc_id, title, text, length(text)::int AS n_chars, 1::int AS n_links
    FROM expect
    """,
    "HTML → visible text — the step between WARC ingestion and the "
    "text pipeline (the deterministic core of a trafilatura-style "
    "extractor): stdlib HTMLParser drops script/style/noscript "
    "subtrees whole, dissolves inline markup without injecting spaces "
    "('<a>link</a>.' stays 'link.'), turns block elements into line "
    "breaks, decodes entities, extracts <title> and hrefs. The oracle "
    "constructs the exact expected text in closed form from the same "
    "formula markup the Spark side actually parses — a skip-depth, "
    "entity, or block-boundary bug breaks the hash. Scale: parse per "
    "Arrow batch; single-pass parser",
)
def q137_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.htmltext import html_extract

    t = catalog.load(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    markup = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>p { margin: 0 }</style>"
              "<script>var h = '<p>not text</p>';</script></head><body>"
              "<h1>Heading "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</h1><p>Para   with <b>bold "), did,
        F.lit("</b> and <a href=\"/l/"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("\">link</a>.</p>"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit("<ul><li>item&nbsp;one</li><li>item "),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("</li></ul>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("<noscript>no js fallback</noscript></body></html>"),
    )
    docs = t.documents.select("doc_id", markup.alias("markup"))
    return html_extract(docs).select(
        "doc_id", "title", "text", "n_chars", "n_links"
    )


@spec(
    "q138_boilerplate_lines",
    """
    WITH synth AS (
      SELECT doc_id,
             'unique ' || doc_id || ' alpha' || chr(10)
               || '(c) example corp footer' || chr(10)
               || 'content ' || (doc_id % 13) || ' beta'
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || 'subscribe now' ELSE '' END AS text
      FROM documents),
    split AS (
      SELECT doc_id, string_split(text, chr(10)) AS parts FROM synth),
    lines AS (
      SELECT s.doc_id, list_extract(s.parts, g.i) AS line, g.i AS ord
      FROM split s
      JOIN generate_series(1, 4) g(i) ON g.i <= len(s.parts)),
    bp AS (
      SELECT line FROM lines GROUP BY line
      HAVING count(DISTINCT doc_id) >= 100),
    kept AS (SELECT l.doc_id, l.line, l.ord FROM lines l
             ANTI JOIN bp b ON l.line = b.line)
    SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text,
           count(*)::int AS n_lines
    FROM kept GROUP BY doc_id
    """,
    "CCNet-style boilerplate removal — lines verbatim-shared by >= "
    "min_df documents (footers, banners, nav) are corpus noise: "
    "posexplode lines, line-frequency groupBy (map-side combined, "
    "shuffles only distinct lines), left_anti against the boilerplate "
    "table, order-preserving reassembly via one groupBy + array_sort "
    "(no corpus-wide window). The oracle runs the SAME algorithm in "
    "SQL over the same planted corpus (universal footer, 50%-df "
    "banner, ~7%-df content lines, unique lines), so threshold "
    "semantics and order preservation are what is actually checked — "
    "at different SFs different lines cross the threshold and both "
    "sides must agree",
)
def q138_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import drop_boilerplate_lines

    t = catalog.load(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("unique "), did, F.lit(" alpha\n(c) example corp footer\ncontent "),
        (F.col("doc_id") % 13).cast("string"), F.lit(" beta"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\nsubscribe now")).otherwise(
            F.lit("")
        ),
    )
    docs = t.documents.select("doc_id", text.alias("text"))
    return drop_boilerplate_lines(docs, min_df=100)


@spec(
    "q139_web_corpus_stats",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 3 + 1)::int AS k FROM documents
      WHERE doc_id % 10 = 6),
    page AS (
      SELECT s.doc_id, r.r,
             's' || ((s.doc_id // 10) % 20) || '.ex' AS domain,
             'Page ' || s.doc_id || chr(10) || 'page ' || (s.doc_id % 400)
               || ' rec ' || r.r || repeat(' filler', r.r * 4) AS text
      FROM sel s JOIN generate_series(0, 2) r(r) ON r.r < s.k)
    SELECT domain, count(*)::bigint AS n_pages,
           sum(CASE WHEN length(text) >= 30 THEN 1 ELSE 0 END)::bigint
             AS n_kept,
           sum(CASE WHEN length(text) >= 30 THEN length(text) ELSE 0 END)
             ::bigint AS total_chars_kept
    FROM page GROUP BY domain
    """,
    "composed end-to-end web-ingestion chain — the q109 of the web "
    "tier: formula page corpora are serialized into real WARC archives "
    "(gzip members on odd ids), demuxed by the strict-framing parser, "
    "their HTML bodies extracted to visible text by the stdlib parser "
    "(heading block + paragraph), grouped by the CANONICALIZED domain "
    "(functions/urls.py url_domain over each record's WARC-Target-URI) "
    "with a min-length quality gate, aggregated per domain. The oracle "
    "mirrors the whole chain in closed form, so a bug in any stage — "
    "framing, HTTP split, HTML block breaks, URL host extraction, "
    "gate arithmetic — shifts the per-domain counts and breaks the "
    "hash. Scale: parse/extract per Arrow batch; the only shuffle is "
    "the final per-domain aggregation",
)
def q139_web_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.urls import url_domain
    from .sources.htmltext import html_extract
    from .sources.warc import warc_records, warc_write

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 6).select(
        F.col("doc_id").alias("archive_id")
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid in pdf["archive_id"]:
                aid = int(aid)
                recs = []
                for r in range(aid % 3 + 1):
                    body = (
                        f"<html><head><title>T{aid}</title></head><body>"
                        f"<h1>Page {aid}</h1><p>page {aid % 400} rec {r}"
                        + " filler" * (r * 4)
                        + "</p></body></html>"
                    ).encode()
                    recs.append(
                        {
                            "warc_type": "response",
                            "uri": f"http://S{(aid // 10) % 20}.Ex/p{r}",
                            "date": "2024-01-01T00:00:00Z",
                            "http_status": 200,
                            "mime": "text/html",
                            "body": body,
                        }
                    )
                rows.append((aid, warc_write(recs, gzip_members=aid % 2 == 1)))
            yield pd.DataFrame(rows, columns=["archive_id", "payload"])

    archives = fan_out(sel).mapInPandas(gen, "archive_id long, payload binary")
    pages = warc_records(archives).select(
        F.col("uri"), F.col("body").alias("markup"),
        F.col("archive_id").alias("doc_id"),
        F.monotonically_increasing_id().alias("_row"),
    )
    # html_extract keys by doc_id; keep uri alongside via a rejoin-free
    # pass: extract on a composite frame
    extracted = html_extract(
        pages.select(F.col("_row").alias("doc_id"), "markup")
    ).select(F.col("doc_id").alias("_row"), "text", "n_chars")
    joined = pages.select("_row", "uri").join(extracted, "_row")
    gated = joined.select(
        url_domain(F.col("uri")).alias("domain"),
        F.col("n_chars"),
        (F.col("n_chars") >= 30).cast("int").alias("keep"),
    )
    return gated.groupBy("domain").agg(
        F.count("*").alias("n_pages"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.sum(F.col("keep") * F.col("n_chars")).cast("bigint").alias(
            "total_chars_kept"
        ),
    )


@spec(
    "q140_charlm_quality",
    """
    WITH doc AS (SELECT doc_id, lower(text) AS t FROM documents),
    big AS (
      SELECT d.doc_id, substr(d.t, i.i, 2) AS bg
      FROM doc d
      JOIN generate_series(1, 4000) i(i) ON i.i <= length(d.t) - 1),
    freq AS (SELECT bg, count(*)::bigint AS n FROM big GROUP BY bg),
    tot AS (SELECT sum(n)::bigint AS total FROM freq),
    scaled AS (SELECT f.bg, (f.n * 1000000) // t.total AS w
               FROM freq f CROSS JOIN tot t),
    scored AS (
      SELECT b.doc_id, count(*)::bigint AS n_bigrams,
             sum(s.w)::bigint AS score
      FROM big b JOIN scaled s ON s.bg = b.bg GROUP BY b.doc_id)
    SELECT doc_id, n_bigrams, score,
           (score // n_bigrams)::bigint AS avg_w,
           (CASE WHEN score // n_bigrams >= 300 THEN 1 ELSE 0 END)::int
             AS keep
    FROM scored
    """,
    "character-bigram LM quality filter — the CCNet LM-score analogue "
    "with corpus-trained statistics and integer-exact arithmetic "
    "(scaled frequencies via floor division, no float logs to "
    "hash-drift): one scan explodes bigrams JVM-side (sequence/"
    "transform/substring), the bigram table groups map-side-combined "
    "(cardinality ~ alphabet², broadcast back to the scorer join), "
    "per-doc score is one aggregation. Documents whose average scaled "
    "bigram frequency falls below the floor read as out-of-"
    "distribution (gibberish/wrong-language) and are flagged. The "
    "oracle trains and scores the same model in SQL",
)
def q140_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    doc = t.documents.select("doc_id", F.lower("text").alias("t"))
    bigrams = F.expr(
        "transform(sequence(1, greatest(length(t) - 1, 0)), "
        "i -> substring(t, i, 2))"
    )
    big = doc.select("doc_id", F.explode(bigrams).alias("bg"))
    freq = big.groupBy("bg").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    scaled = freq.crossJoin(F.broadcast(total)).select(
        "bg", F.expr("(n * 1000000) div total").alias("w")
    )
    scored = (
        big.join(F.broadcast(scaled), "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("w").alias("score"),
        )
    )
    return scored.select(
        "doc_id", "n_bigrams", "score",
        F.expr("score div n_bigrams").alias("avg_w"),
        (F.expr("score div n_bigrams") >= 300).cast("int").alias("keep"),
    )


_Z_TERMS = " + ".join(
    f"((x >> {b}) & 1) * {1 << (2 * b)}::BIGINT"
    f" + ((y >> {b}) & 1) * {1 << (2 * b + 1)}::BIGINT"
    for b in range(16)
)


@spec(
    "q141_zorder_locality",
    f"""
    WITH src AS (
      SELECT l_orderkey % 65536 AS x, l_partkey % 65536 AS y,
             l_orderkey, l_partkey
      FROM lineitem WHERE l_orderkey % 7 = 0),
    z AS (
      SELECT l_orderkey, l_partkey, ({_Z_TERMS})::bigint AS zval
      FROM src)
    SELECT (zval >> 26)::bigint AS zbucket, count(*)::bigint AS n_rows,
           min(l_orderkey)::bigint AS min_ok, max(l_orderkey)::bigint AS max_ok,
           min(l_partkey)::bigint AS min_pk, max(l_partkey)::bigint AS max_pk
    FROM z GROUP BY zbucket
    """,
    "Z-order (Morton) layout key — the multi-column clustering behind "
    "Delta/Iceberg OPTIMIZE ZORDER: interleave the low 16 bits of two "
    "join/filter columns with a pure JVM aggregate fold (operators/"
    "skew.py zorder_key; cluster_by_zorder range-partitions + sorts on "
    "it so per-file min/max stats prune on EITHER column). The query "
    "buckets rows by high z-bits and reports per-bucket key ranges — "
    "the locality a warehouse actually exploits; the oracle recomputes "
    "the bit interleave and bucketing in closed form. Scale: one scan, "
    "one groupBy; the key itself is codegen",
)
def q141_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import zorder_key

    t = catalog.load(spark, sf_dir)
    src = t.lineitem.filter(F.col("l_orderkey") % 7 == 0).select(
        "l_orderkey", "l_partkey",
        (F.col("l_orderkey") % 65536).alias("x"),
        (F.col("l_partkey") % 65536).alias("y"),
    )
    z = src.withColumn("zval", zorder_key("x", "y"))
    return (
        z.groupBy(F.expr("zval >> 26").alias("zbucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
    )


_PR_ITER = """
    c{i} AS (SELECT e.dst AS node, sum(r.rank // o.outdeg)::bigint AS s
             FROM edges e
             JOIN r{p} r ON r.node = e.src
             JOIN outd o ON o.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT nd.node,
                    (150000 + (85 * coalesce(c.s, 0)) // 100)::bigint AS rank
             FROM nodes nd LEFT JOIN c{i} c ON c.node = nd.node)"""


@spec(
    "q142_pagerank",
    """
    WITH cnt AS (SELECT count(*)::bigint AS n FROM documents),
    nodes AS (SELECT doc_id AS node FROM documents),
    edges AS (
      SELECT d.doc_id AS src,
             (d.doc_id * 7 + j.j * 13 + 1) % (SELECT n FROM cnt) AS dst
      FROM documents d
      JOIN generate_series(0, 2) j(j) ON j.j <= d.doc_id % 3),
    outd AS (SELECT src, count(*)::bigint AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1000000::bigint AS rank FROM nodes),"""
    + ",".join(_PR_ITER.format(i=i, p=i - 1) for i in (1, 2, 3))
    + """
    SELECT node, rank FROM r3
    """,
    "link-graph PageRank — the quality prior a web corpus computes "
    "from extracted hrefs (sources/htmltext.py): integer-scaled "
    "arithmetic (contribution = rank div outdeg, damped update via "
    "floor division) makes every iteration EXACTLY reproducible, so "
    "the oracle unrolls three iterations as SQL stages and the hash "
    "pins the whole fixpoint trajectory — no float summation-order "
    "drift. Scale: each iteration is one groupBy(dst) + join back "
    "(the connected-components shape, mesh.py:203), localCheckpoint "
    "per round; no windows, no driver state beyond the loop counter",
)
def q142_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mesh import pagerank_scaled

    t = catalog.load(spark, sf_dir)
    n = t.documents.count()
    nodes = t.documents.select(F.col("doc_id").alias("node"))
    j = F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j")
    edges = t.documents.select(F.col("doc_id").alias("src"), j).select(
        "src", ((F.col("src") * 7 + F.col("j") * 13 + 1) % n).alias("dst")
    )
    return pagerank_scaled(edges, nodes, n_iter=3)


@spec(
    "q143_robots_policy",
    """
    WITH page AS (
      SELECT doc_id, 'd' || (doc_id % 25) AS domain,
             CASE doc_id % 5
               WHEN 0 THEN '/sec' || (doc_id % 25) || '/x'
               WHEN 1 THEN '/sec' || (doc_id % 25) || '/open/y'
               WHEN 2 THEN '/pub/' || doc_id
               WHEN 3 THEN '/files/a.zip'
               ELSE '/sec' || ((doc_id + 1) % 25) || '/x'
             END AS path
      FROM documents)
    SELECT domain, path, 'memvidbot' AS user_agent,
           (CASE doc_id % 5 WHEN 0 THEN 0 WHEN 3 THEN 0 ELSE 1 END)::int
             AS allowed
    FROM page
    """,
    "robots.txt crawl-policy filtering (RFC 9309) — the compliance "
    "gate a web-corpus pipeline applies before pages enter training "
    "data: per-domain policies (group selection with '*' fallback, "
    "longest-pattern precedence, allow-beats-disallow ties, '*' "
    "wildcards and '$' anchors) evaluated over page paths. The Spark "
    "side PARSES real robots.txt text per domain (broadcast-sized "
    "policy table, compiled once per batch) and the oracle states the "
    "expected verdict per path class in closed form — a precedence or "
    "anchoring bug flips flags and breaks the hash. Scale: policies "
    "are per-domain tiny; evaluation is per Arrow batch",
)
def q143_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.robots import robots_filter

    t = catalog.load(spark, sf_dir)
    dom = F.concat(F.lit("d"), (F.col("doc_id") % 25).cast("string"))
    sec = (F.col("doc_id") % 25).cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/sec"), sec, F.lit("/x")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("/sec"), sec, F.lit("/open/y")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("/pub/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 5 == 3, F.lit("/files/a.zip"))
        .otherwise(
            F.concat(
                F.lit("/sec"), ((F.col("doc_id") + 1) % 25).cast("string"),
                F.lit("/x"),
            )
        )
    )
    pages = t.documents.select(dom.alias("domain"), path.alias("path"))
    policies = (
        t.documents.select((F.col("doc_id") % 25).alias("d"))
        .distinct()
        .select(
            F.concat(F.lit("d"), F.col("d").cast("string")).alias("domain"),
            F.concat(
                F.lit("User-agent: *\nDisallow: /sec"),
                F.col("d").cast("string"),
                F.lit("/\nAllow: /sec"),
                F.col("d").cast("string"),
                F.lit("/open\nDisallow: /*.zip$\n"),
            ).alias("robots"),
        )
    )
    return robots_filter(pages, F.broadcast(policies), user_agent="memvidbot")


@spec(
    "q144_pdf_embedded_images",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 3 + 1)::int AS bw, (doc_id % 2 + 1)::int AS bh
      FROM documents WHERE doc_id % 10 = 9),
    px AS (
      SELECT s.doc_id, s.bw, s.bh,
             (s.doc_id * 31 + (x.x // 8) * 7 + (y.y // 8) * 13) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 23) x(x) ON x.x < s.bw * 8
      JOIN generate_series(0, 15) y(y) ON y.y < s.bh * 8)
    SELECT doc_id AS media_id, (bw * 8)::int AS width, (bh * 8)::int AS height,
           count(*)::bigint AS n_px, sum(v)::bigint AS px_sum,
           min(v)::int AS px_min, max(v)::int AS px_max
    FROM px GROUP BY doc_id, bw, bh
    """,
    "document-embedded image extraction — the reference's "
    "role='extracted_image' path (frame.rs role field; PDF images feed "
    "clip.rs): block-constant formula images are JPEG-encoded, "
    "embedded as real /DCTDecode XObjects in a text PDF, re-extracted "
    "by the stream scanner (DCTDecode streams ARE complete JPEGs per "
    "spec) and decoded by the baseline codec — unit quantization makes "
    "the whole PDF→JPEG→pixels chain EXACT, so the oracle pins every "
    "decoded pixel in closed form. Scale: extraction+decode per Arrow "
    "batch; payloads never shuffle",
)
def q144_pdf_embedded_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.binary import pdf_extract_images, pdf_with_images
    from .sources.jpeg import jpeg_decode, jpeg_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 9).select(
        F.col("doc_id").alias("media_id")
    )
    cols = ["media_id", "width", "height", "n_px", "px_sum", "px_min", "px_max"]
    schema = (
        "media_id long, width int, height int, n_px long, px_sum long, "
        "px_min int, px_max int"
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf_b in batches:
            rows = []
            for mid in pdf_b["media_id"]:
                mid = int(mid)
                w, h = (mid % 3 + 1) * 8, (mid % 2 + 1) * 8
                y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                img = (
                    (mid * 31 + (x // 8) * 7 + (y // 8) * 13) % 256
                ).astype(np.uint8)
                payload = pdf_with_images(f"doc {mid}", [jpeg_encode(img)])
                (mime, jpg), = pdf_extract_images(payload)
                dec = np.asarray(jpeg_decode(jpg), dtype=np.int64)
                rows.append(
                    (
                        mid, w, h, int(dec.size), int(dec.sum()),
                        int(dec.min()), int(dec.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return fan_out(sel).mapInPandas(run, schema)


# =========================================================================
# Events: timeline, rollups, as-of state, sessionization (SURVEY §2.11)
# =========================================================================


@spec(
    "q46_symspell_repair",
    None,  # filled by _computed_oracles from the shared DEL1 shape
    "SymSpell edit-distance-1 token repair via delete-variant equi-joins "
    "(src/symspell_cleanup.rs; corpus-derived frequency dictionary) — "
    "exact hit wins, then max freq, alphabetical tie-break",
)
def q46_symspell_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import corpus_dictionary, symspell_repair, tokens

    t = catalog.load(spark, sf_dir)
    t1 = F.element_at(tokens("text"), 1)
    corrupted = F.concat(
        t1.substr(F.lit(1), F.lit(1)),
        t1.substr(F.lit(3), F.greatest(F.length(t1) - 2, F.lit(0))),
    )
    q = t.documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, corrupted).otherwise(t1).alias("tok"),
    )
    return symspell_repair(q, corpus_dictionary(t.documents, min_freq=2))


@spec(
    "q47_normalize_truncate",
    r"""
    SELECT doc_id,
           substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 40)
             AS norm_head,
           length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))::bigint
             AS n_chars_norm
    FROM documents
    """,
    "normalize_text (lower/trim/collapse-whitespace, src/text.rs) + "
    "grapheme-safe truncation (clusters never split from combining "
    "marks; ASCII corpus ⇒ oracle is substr, combining-mark behavior "
    "pinned in tests)",
)
def q47_normalize_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize_text, truncate_graphemes

    t = catalog.load(spark, sf_dir)
    norm = t.documents.select("doc_id", normalize_text("text").alias("norm"))
    return norm.select(
        "doc_id",
        truncate_graphemes("norm", 40).alias("norm_head"),
        F.length("norm").cast("long").alias("n_chars_norm"),
    )


@spec(
    "q88_track_stats",
    """
    SELECT 'frames' AS track, count(*)::bigint AS n_rows,
           count(DISTINCT doc_id)::bigint AS n_keys,
           sum(length(text))::bigint AS n_bytes
    FROM documents
    UNION ALL
    SELECT 'embeddings', count(*)::bigint,
           count(DISTINCT vec_id)::bigint, 0::bigint FROM embeddings
    UNION ALL
    SELECT 'events', count(*)::bigint,
           count(DISTINCT event_id)::bigint, 0::bigint FROM events
    """,
    "per-track stats() — counts, key cardinalities, byte sums across "
    "the store's tracks (frame.rs:92-145, sketch.rs:87-91, "
    "logic_mesh.rs:298-320)",
)
def q88_track_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)

    def one(df: DataFrame, track: str, key: str, with_bytes: bool) -> DataFrame:
        nb = (
            F.sum(F.length("text")).cast("long")
            if with_bytes
            else F.lit(0).cast("long")
        )
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count_distinct(F.col(key)).cast("long").alias("n_keys"),
            nb.alias("n_bytes"),
        ).select(F.lit(track).alias("track"), "n_rows", "n_keys", "n_bytes")

    return (
        one(t.documents, "frames", "doc_id", True)
        .unionByName(one(t.embeddings, "embeddings", "vec_id", False))
        .unionByName(one(t.events, "events", "event_id", False))
    )


@spec(
    "q48_stemmed_search",
    None,  # filled by _computed_oracles from the shared Porter emitter
    "stemmed implicit-AND search with the FULL Porter stemmer: one "
    "emitter (functions/porter.py) writes the Spark expression chain, "
    "the DuckDB oracle, and the query-side stems — analyzer parity by "
    "construction (schema.rs:7-14 + tantivy.rs:38-46). Dictionary "
    "pattern: stems are computed once per DISTINCT vocab token and "
    "broadcast-joined back, so the stemmer costs O(|vocab|), not "
    "O(corpus tokens)",
)
def q48_stemmed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.porter import spark_stem_vocab, stem_py
    from .functions.text import tokens

    t = catalog.load(spark, sf_dir)
    query_terms = ["tables", "windows"]  # Porter stems: tabl, window
    toks = t.documents.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    dic = spark_stem_vocab(toks.select("token").distinct())
    stemmed = toks.join(F.broadcast(dic), "token").select("doc_id", "stem")
    counts = stemmed.groupBy("doc_id").agg(
        F.count_distinct("stem").cast("long").alias("n_stems")
    )
    targets = [stem_py(w.lower()) for w in query_terms]
    hit = (
        stemmed.filter(F.col("stem").isin(targets))
        .groupBy("doc_id")
        .agg(F.count_distinct("stem").alias("nm"))
        .filter(F.col("nm") == len(targets))
    )
    return counts.join(hit.select("doc_id"), "doc_id", "left_semi")


@spec(
    "q123_snowball_search",
    None,  # filled by _computed_oracles from the porter2 emitter
    "stemmed search with the SNOWBALL ENGLISH stemmer (Porter2) — the "
    "algorithm the reference actually indexes with (Tantivy English, "
    "schema.rs:7-14, tantivy.rs:38-46): exceptional forms, R1/R2 "
    "regions, y-marking, short-syllable e-restoration. Same 3-tier "
    "single-emitter architecture and dictionary pattern as q48 "
    "(functions/porter2.py); inflected query terms (merging, queries) "
    "hit base-form documents. Porter2's SQL tier is lighter than "
    "Porter1's: R1/R2 are fixed offsets, so conditions are integer "
    "compares + local char tests — no per-step CV regexp passes",
)
def q123_snowball_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.porter2 import spark_stem_vocab, stem_py
    from .functions.text import tokens

    t = catalog.load(spark, sf_dir)
    query_terms = ["merging", "queries"]  # Snowball stems: merg, queri
    toks = t.documents.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    dic = spark_stem_vocab(toks.select("token").distinct())
    stemmed = toks.join(F.broadcast(dic), "token").select("doc_id", "stem")
    counts = stemmed.groupBy("doc_id").agg(
        F.count_distinct("stem").cast("long").alias("n_stems")
    )
    targets = [stem_py(w.lower()) for w in query_terms]
    hit = (
        stemmed.filter(F.col("stem").isin(targets))
        .groupBy("doc_id")
        .agg(F.count_distinct("stem").alias("nm"))
        .filter(F.col("nm") == len(targets))
    )
    return counts.join(hit.select("doc_id"), "doc_id", "left_semi")


@spec(
    "q91_polarity_summary",
    None,  # filled by _computed_oracles (SQL_CARDS defined later)
    "fact polarity (memory_card.rs:116-127): negated facts stay distinct "
    "from positive ones through the current view — per-slot polarity "
    "breakdown of the latest non-retracted cards",
)
def q91_polarity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    cur = memory.current_cards(memory.cards_from_events(t.events))
    return cur.groupBy("slot", "polarity").agg(
        F.count("*").cast("long").alias("n_current"),
        F.count_distinct("entity").cast("long").alias("n_entities"),
    )


@spec(
    "q69_cardinality_violations",
    None,  # filled by _computed_oracles (needs SQL_CARDS)
    "cardinality enforcement over the multi-value current view: Updates "
    "replaces the value set, Extends adds, Retracts clears — a Single "
    "slot holding >1 current value violates (schema.rs:87-95, "
    "memory_card.rs:76-90)",
)
def q69_cardinality_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    cards = memory.cards_from_events(t.events)
    reg = local_frame(
        spark,
        [("click", "Single"), ("error", "Single")],
        "slot string, cardinality string",
    )
    return memory.cardinality_violations(cards, reg)


@spec(
    "q50_timeline",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, event_type, round(value,2) AS value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    ORDER BY ts DESC, event_id DESC LIMIT 50
    """,
    "timeline since/until/reverse/limit (src/memvid/timeline.rs:20-145)",
)
def q50_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    t = catalog.load(spark, sf_dir)
    ns = lambda y, m, d: int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000_000
    tl = asof.timeline(t.events, since=ns(2024, 1, 10), until=ns(2024, 1, 20), reverse=True, limit=50)
    return tl.select(
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_type",
        F.round("value", 2).alias("value"),
    )


@spec(
    "q51_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type, count(*) AS n, round(sum(value),2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "tumbling-window rollup (streaming-shaped agg; SURVEY §2.11)",
)
def q51_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    hour = F.date_format(
        F.date_trunc("hour", F.timestamp_micros(F.expr("ts div 1000"))),
        "yyyy-MM-dd HH:00:00",
    )
    return (
        t.events.groupBy(hour.alias("hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@spec(
    "q52_current_state",
    """
    SELECT user_id, event_type, round(value,2) AS last_value, epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
    "get_current_memory: latest fact per entity:slot (memory.rs:222-224)",
)
def q52_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    cur = asof.current_state(t.events, keys=["user_id", "event_type"])
    return cur.select(
        "user_id",
        "event_type",
        F.round("value", 2).alias("last_value"),
        F.expr("ts div 1000").alias("ts_us"),
    )


@spec(
    "q53_asof_state",
    """
    SELECT user_id, event_type, round(value,2) AS value_asof, epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1
    """,
    "get_memory_at_time: as-of point-in-time state (memory.rs:236-243)",
)
def q53_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    t = catalog.load(spark, sf_dir)
    bound = int(datetime(2024, 1, 15, tzinfo=timezone.utc).timestamp()) * 1_000_000_000
    st = asof.as_of(t.events, bound, keys=["user_id"])
    return st.select(
        "user_id",
        "event_type",
        F.round("value", 2).alias("value_asof"),
        F.expr("ts div 1000").alias("ts_us"),
    )


@spec(
    "q54_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM g
    )
    SELECT user_id, max(session_id)::bigint AS n_sessions, count(*) AS n_events
    FROM s GROUP BY user_id
    """,
    "inactivity-gap sessionization: lag + conditional cumsum, one shuffle",
)
def q54_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    s = asof.sessionize(t.events, key="user_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


# =========================================================================
# Vector / similarity (SURVEY §2.8): exact kNN is the correctness tier —
# the reference itself validates ANN against brute force (src/vec.rs:587-651)
# =========================================================================

SQL_COS = (
    "list_dot_product({a}, {b}) / nullif("
    "sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})), 0)"
)


@spec(
    "q30_knn_cosine",
    f"""
    WITH q AS (SELECT embedding::double[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, round({SQL_COS.format(a='embedding::double[]', b='qv')}, 6) AS score
      FROM embeddings, q WHERE vec_id <> 0
    ), top AS (
      SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    )
    SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
    FROM top
    """,
    "exact cosine top-k (brute-force kNN, src/vec.rs:237-255)",
)
def q30_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x)
        for x in t.embeddings.filter(F.col("vec_id") == 0).head().embedding
    ]
    return knn.knn(t.embeddings, qvec, k=10, exclude_id=0)


@spec(
    "q31_knn_join",
    f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding::double[] AS qv FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             round({SQL_COS.format(a='e.embedding::double[]', b='q.qv')}, 6) AS score
      FROM embeddings e, queries q WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
    "similarity join: top-k per query, broadcast query side (SURVEY §2.8)",
)
def q31_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    queries = t.embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return knn.knn_join(t.embeddings, queries, k=5)


@spec(
    "q32_embedding_quality",
    f"""
    WITH s AS (SELECT vec_id, embedding::double[] AS v FROM embeddings WHERE vec_id < 100),
    pairs AS (
      SELECT {SQL_COS.format(a='a.v', b='b.v')} AS sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT count(*) AS n_pairs, round(avg(sim),6) AS mean_sim,
           round(stddev_samp(sim),6) AS std_sim
    FROM pairs
    """,
    "embedding_quality distribution stats (api.rs:638-661)",
)
def q32_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return knn.embedding_quality(t.embeddings, sample_ids=100)


@spec(
    "q33_knn_pandas_kernel",
    f"""
    WITH q AS (SELECT embedding::double[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, round({SQL_COS.format(a='embedding::double[]', b='qv')}, 6) AS score
      FROM embeddings, q WHERE vec_id <> 0
    ), top AS (
      SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    )
    SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
    FROM top
    """,
    "NumPy mapInPandas kNN kernel (SIMD-scan analogue, src/simd.rs:13-70) "
    "— must be bit-identical to the codegen path, same oracle as q30",
)
def q33_knn_pandas_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 0).head().embedding
    ]
    return knn.knn_pandas(t.embeddings, qvec, k=10, exclude_id=0)


@spec(
    "q34_pq_recall",
    None,  # KMeans codebooks are not SQL-expressible → rows-only check
    "product quantization: subspace KMeans + ADC search, recall@10 vs "
    "exact ground truth (src/vec_pq.rs:1-175, validation vec.rs:587-651)",
)
def q34_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import pq_recall

    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 1).head().embedding
    ]
    r = pq_recall(t.embeddings, qvec, k=10, n_sub=8, n_centroids=64)
    return local_frame(
        spark,
        [(10, float(r), 8, 64)], "k int, recall double, n_sub int, n_centroids int"
    )


@spec(
    "q35_ivf_knn",
    None,  # KMeans cell assignment not SQL-expressible → rows-only check
    "IVF approximate kNN: probe n_probe nearest cells only — the 100 TB "
    "scan-reduction path (HNSW-threshold analogue, src/vec.rs:22-28)",
)
def q35_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import ivf_knn, train_centroids

    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 2).head().embedding
    ]
    centroids = train_centroids(t.embeddings, n_cells=8)
    return ivf_knn(t.embeddings, centroids, qvec, k=10, n_probe=3)


# =========================================================================
# Deduplication family (training-data-pipeline surface; BASELINE.json)
# =========================================================================


@spec(
    "q20_exact_dup_groups",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT sha256, n_docs, keeper FROM (
      SELECT sha256(text) AS sha256, count(*) AS n_docs, min(doc_id) AS keeper
      FROM corpus GROUP BY sha256(text)) WHERE n_docs > 1
    """,
    "exact content dedup groups — blake3-skip analogue (mutation.rs:3302-3316)",
)
def q20_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    copies = (
        t.documents.filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    corpus = t.documents.select("doc_id", "text").unionByName(copies)
    return dedup.exact_duplicate_groups(corpus)


@spec(
    "q24_dedup_insert",
    """
    WITH new_docs AS (
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text || ' novel suffix' AS text
      FROM documents WHERE doc_id < 50
    )
    SELECT n.doc_id FROM new_docs n
    WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE sha256(d.text) = sha256(n.text))
    """,
    "dedup-on-insert anti-join: only novel content survives (mutation.rs:3302-3316)",
)
def q24_dedup_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    base = t.documents.filter(F.col("doc_id") < 50)
    new_docs = base.select((F.col("doc_id") + 2000000).alias("doc_id"), "text").unionByName(
        base.select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" novel suffix")).alias("text"),
        )
    )
    return dedup.dedup_insert(new_docs, t.documents).select("doc_id")


SQL_SIMHASH = """
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> t<>'')) AS tok
      FROM documents
    ), post AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
    ), hashed AS (
      SELECT doc_id, tf, ('0x'||substr(md5(tok),1,15))::bigint AS h FROM post
    ), votes AS (
      SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS v
      FROM hashed, unnest(generate_series(0,59)) AS t(j) GROUP BY doc_id, j
    ), sh AS (
      SELECT doc_id, sum(CASE WHEN v > 0 THEN cast(pow(2,j) AS bigint) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@spec(
    "q21_simhash_near_dups",
    f"""
    WITH {SQL_SIMHASH},
    bands AS (
      SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS band_val
      FROM sh, unnest(generate_series(0,3)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.simhash AS sh_a, r.simhash AS sh_b
      FROM bands l JOIN bands r ON l.b = r.b AND l.band_val = r.band_val
      WHERE l.doc_id < r.doc_id
    )
    SELECT a, b, bit_count(xor(sh_a, sh_b)::bigint) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)::bigint) <= 3
    """,
    "SimHash LSH near-dup pairs, hamming ≤ 3 (sketch_track.rs:549-580, sketch.rs:169-281)",
)
def q21_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return dedup.simhash_near_dup_pairs(t.documents, max_hamming=3)


def _q22_minhash_mins() -> str:
    """The 8 min-hash aggregate expressions for the q22 oracle, generated
    from the SAME affine-family constants the Spark plan uses
    (functions/hashing.py MINHASH_FAMILY) so the twins cannot drift."""
    from .functions.hashing import hash64_affine_sql

    return ",\n             ".join(
        f"min({hash64_affine_sql('h', s)}) AS mh{s}" for s in range(8)
    )


@spec(
    "q22_minhash_lsh",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x<>'') AS toks
      FROM documents
    ), shingle AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g(i)
    ), hashed AS (
      SELECT doc_id, ('0x'||substr(md5(shingle),1,15))::bigint AS h FROM shingle
    ), sig AS (
      SELECT doc_id, {_q22_minhash_mins()}
      FROM hashed GROUP BY doc_id
    ), band_key AS (
      SELECT doc_id,
             unnest([0, 1, 2, 3]) AS band,
             unnest([mh0::varchar || ',' || mh1::varchar,
                     mh2::varchar || ',' || mh3::varchar,
                     mh4::varchar || ',' || mh5::varchar,
                     mh6::varchar || ',' || mh7::varchar]) AS bk
      FROM sig
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM band_key l JOIN band_key r ON l.band = r.band AND l.bk = r.bk
      WHERE l.doc_id < r.doc_id
    ), sz AS (
      SELECT doc_id, count(*) AS sz FROM shingle GROUP BY doc_id
    ), inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN shingle x ON x.doc_id = c.a
      JOIN shingle y ON y.doc_id = c.b AND y.shingle = x.shingle
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b,
           round(i.inter / (sa.sz + sb.sz - i.inter)::double, 6) AS jaccard
    FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
    WHERE i.inter / (sa.sz + sb.sz - i.inter)::double >= 0.2
    """,
    "MinHash-LSH candidates (8 hashes, 4 bands) + exact Jaccard verify",
)
def q22_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return dedup.minhash_lsh_pairs(t.documents, min_jaccard=0.2)


@spec(
    "q23_token_jaccard",
    """
    WITH t AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> x<>'')) AS tok
      FROM documents WHERE doc_id < 150
    ), d AS (SELECT DISTINCT doc_id, tok FROM t),
    sz AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
    i AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      FROM d x JOIN d y USING (tok) WHERE x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT a, b, round(inter/(sa.sz + sb.sz - inter)::double, 6) AS jaccard
    FROM i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
    WHERE inter/(sa.sz + sb.sz - inter)::double >= 0.9
    """,
    "exact token-set Jaccard via equi-join (n-gram near-dup baseline)",
)
def q23_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return dedup.token_jaccard_pairs(t.documents, min_jaccard=0.9, id_upper=150)


# =========================================================================
# Text analysis (training-data-pipeline surface)
# =========================================================================


@spec(
    "q40_token_stats",
    f"""
    SELECT source, count(*) AS n_docs,
           sum(len({SQL_TOKS.format(x='text')}))::bigint AS total_tokens,
           round(avg(len({SQL_TOKS.format(x='text')})), 4) AS avg_tokens,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY source
    """,
    "token counting per source (tokenizer surface, SURVEY §2.9)",
)
def q40_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
        F.round(F.avg(T.token_count("text")), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


SQL_QUALITY = f"""
      round(
        least(len({SQL_TOKS.format(x='text')})::double / 100.0, 1.0) * 0.5
        + (1.0 - coalesce(
            len(list_filter({SQL_TOKS.format(x='text')}, t -> list_contains({T.SQL_STOPWORDS_LIST}, t)))
              / nullif(len({SQL_TOKS.format(x='text')})::double, 0.0), 0.0)) * 0.3
        + (1.0 - coalesce(
            length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
              / nullif(length(text), 0.0), 0.0)) * 0.2
      , 6)
"""


@spec(
    "q41_quality_scores",
    f"""
    SELECT lang, count(*) AS n_docs,
           round(avg({SQL_QUALITY}), 6) AS avg_quality
    FROM documents GROUP BY lang
    """,
    "doc-quality heuristic (length/stopword/punct mix) per language",
)
def q41_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(T.quality_score("text")), 6).alias("avg_quality"),
    )


@spec(
    "q42_lang_heuristic",
    f"""
    SELECT lang, count(*) AS n_docs,
           sum(CASE WHEN coalesce(
                 len(list_filter({SQL_TOKS.format(x='text')}, t -> list_contains({T.SQL_STOPWORDS_LIST}, t)))
                   / nullif(len({SQL_TOKS.format(x='text')})::double, 0.0), 0.0) >= 0.05
               THEN 1 ELSE 0 END)::bigint AS n_pred_en
    FROM documents GROUP BY lang
    """,
    "stopword-density language-ID heuristic vs labeled lang column",
)
def q42_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    pred_en = (T.lang_guess("text") == "en").cast("int")
    return t.documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(pred_en).alias("n_pred_en")
    )


# =========================================================================
# Memory cards, schema inference, mesh graph, adaptive cutoff (SURVEY §2.4,
# §2.5, M5) + corpus stats
# =========================================================================

SQL_CARDS = """
    cards AS (
      SELECT 'user:' || user_id::varchar AS entity,
             event_type AS slot,
             CASE WHEN event_id % 4 = 0 THEN value::varchar
                  WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%d')
                  WHEN event_id % 4 = 2 THEN props
                  ELSE event_type END AS value,
             CASE WHEN value < 10.0 THEN 'Retracts'
                  WHEN event_id % 3 = 0 THEN 'Updates'
                  ELSE 'Extends' END AS version_relation,
             CASE WHEN event_id % 5 = 0 THEN 'Negative'
                  ELSE 'Positive' END AS polarity,
             ts, event_id AS seq
      FROM events
    )
"""


@spec(
    "q09_corpus_stats",
    """
    SELECT count(*) AS n_docs, sum(n_chars)::bigint AS total_chars,
           round(avg(n_chars),4) AS avg_chars,
           count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources
    FROM documents
    """,
    "stats(): corpus-level counts/sums/ratios (frame.rs:92-145)",
)
def q09_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.documents.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


@spec(
    "q55_memory_current",
    f"""
    WITH {SQL_CARDS}
    SELECT entity, slot, value, version_relation, epoch_us(ts) AS ts_us
    FROM (
      SELECT *, row_number() OVER (PARTITION BY entity, slot
                                   ORDER BY ts DESC, seq DESC) AS rn
      FROM cards)
    WHERE rn = 1 AND version_relation <> 'Retracts'
    """,
    "current memory view: latest non-retracted card per entity:slot "
    "(memory.rs:222-224, memory_card.rs:248-283)",
)
def q55_memory_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    cur = memory.current_cards(memory.cards_from_events(t.events))
    return cur.select(
        "entity", "slot", "value", "version_relation", F.expr("ts div 1000").alias("ts_us")
    )


@spec(
    "q56_memory_slot_agg",
    f"""
    WITH {SQL_CARDS}
    SELECT slot, count(*) AS n_cards, count(DISTINCT entity) AS n_entities,
           count(DISTINCT value) AS n_values, min(value) AS min_value,
           max(value) AS max_value
    FROM cards GROUP BY slot
    """,
    "aggregate_memory_slot: distinct-value summary (memory.rs:269-271)",
)
def q56_memory_slot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    return memory.aggregate_memory_slot(memory.cards_from_events(t.events))


@spec(
    "q57_schema_inference",
    f"""
    WITH {SQL_CARDS},
    typed AS (
      SELECT *, CASE WHEN regexp_matches(value, '^-?[0-9]+(\\.[0-9]+)?$') THEN 'number'
                     WHEN regexp_matches(value, '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$') THEN 'date'
                     WHEN regexp_matches(lower(value), '^(true|false)$') THEN 'boolean'
                     ELSE 'string' END AS vtype
      FROM cards
    ),
    votes AS (
      SELECT slot, count(*) AS n_cards,
             sum(CASE WHEN vtype='number' THEN 1 ELSE 0 END)::bigint AS n_number,
             sum(CASE WHEN vtype='date' THEN 1 ELSE 0 END)::bigint AS n_date,
             sum(CASE WHEN vtype='boolean' THEN 1 ELSE 0 END)::bigint AS n_boolean,
             sum(CASE WHEN vtype='string' THEN 1 ELSE 0 END)::bigint AS n_string
      FROM typed GROUP BY slot
    ),
    per_entity AS (
      SELECT slot, max(nv) AS max_per_entity FROM (
        SELECT slot, entity, count(DISTINCT value) AS nv FROM cards GROUP BY slot, entity)
      GROUP BY slot
    )
    SELECT v.slot, v.n_cards,
           CASE WHEN n_number >= n_date AND n_number >= n_boolean AND n_number >= n_string THEN 'number'
                WHEN n_date >= n_boolean AND n_date >= n_string THEN 'date'
                WHEN n_boolean >= n_string THEN 'boolean'
                ELSE 'string' END AS value_type,
           CASE WHEN p.max_per_entity <= 1 THEN 'Single' ELSE 'Multiple' END AS cardinality,
           n_number, n_date, n_boolean, n_string
    FROM votes v JOIN per_entity p ON v.slot = p.slot
    """,
    "schema inference: per-slot type histogram + cardinality vote "
    "(schema.rs:478-520, memory.rs:434-530)",
)
def q57_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    return memory.infer_schemas(memory.cards_from_events(t.events))


@spec(
    "q68_schema_validation",
    f"""
    WITH {SQL_CARDS},
    typed AS (
      SELECT *, CASE WHEN regexp_matches(value, '^-?[0-9]+(\\.[0-9]+)?$')
                     THEN 'number'
                     WHEN regexp_matches(value,
                          '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                     THEN 'date'
                     WHEN regexp_matches(lower(value), '^(true|false)$')
                     THEN 'boolean'
                     ELSE 'string' END AS vtype
      FROM cards
    ),
    votes AS (
      SELECT slot,
             sum(CASE WHEN vtype='number' THEN 1 ELSE 0 END) AS n_number,
             sum(CASE WHEN vtype='date' THEN 1 ELSE 0 END) AS n_date,
             sum(CASE WHEN vtype='boolean' THEN 1 ELSE 0 END) AS n_boolean,
             sum(CASE WHEN vtype='string' THEN 1 ELSE 0 END) AS n_string
      FROM typed GROUP BY slot
    ),
    registry AS (
      SELECT slot,
        CASE WHEN n_number >= n_date AND n_number >= n_boolean
                  AND n_number >= n_string THEN 'number'
             WHEN n_date >= n_boolean AND n_date >= n_string THEN 'date'
             WHEN n_boolean >= n_string THEN 'boolean'
             ELSE 'string' END AS expected
      FROM votes WHERE slot <> 'error'
    )
    SELECT t.entity, t.slot, t.value, t.vtype,
           coalesce(r.expected, '') AS expected,
           CASE WHEN r.expected IS NULL THEN 'unknown_slot'
                ELSE 'type_mismatch' END AS violation
    FROM typed t LEFT JOIN registry r USING (slot)
    WHERE r.expected IS NULL OR t.vtype <> r.expected
    """,
    "strict-mode schema validation (memory.rs:367-430): cards rejected "
    "for unknown slots (one slot dropped from the registry to exercise "
    "it) or value-type drift from the inferred registry — the same "
    "classifier as inference, so registry and data can't disagree "
    "spuriously",
)
def q68_schema_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    cards = memory.cards_from_events(t.events)
    registry_tbl = (
        memory.infer_schemas(cards)
        .filter(F.col("slot") != "error")
        .select("slot", "value_type")
    )
    return memory.validate_cards(cards, registry_tbl)


@spec(
    "q58_memory_occurrences",
    f"""
    WITH {SQL_CARDS}
    SELECT entity, slot, count(*) AS n FROM cards
    WHERE entity LIKE 'user:1%' AND contains(value, '"k"')
    GROUP BY entity, slot
    """,
    "count_memory_occurrences with entity prefix + value substring "
    "(memory.rs:285-293)",
)
def q58_memory_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import memory

    t = catalog.load(spark, sf_dir)
    return memory.count_memory_occurrences(
        memory.cards_from_events(t.events), entity_prefix="user:1", value_contains='"k"'
    )


@spec(
    "q60_mesh_follow",
    """
    WITH e AS (
      SELECT 'customer:'||c_custkey::varchar AS src,
             'nation:'||c_nationkey::varchar AS dst FROM customer
      UNION ALL
      SELECT 'supplier:'||s_suppkey::varchar, 'nation:'||s_nationkey::varchar FROM supplier
      UNION ALL
      SELECT 'nation:'||n_nationkey::varchar, 'region:'||n_regionkey::varchar FROM nation
    ),
    starts AS (
      SELECT 'customer:'||c_custkey::varchar AS node_id FROM customer WHERE c_custkey < 20
    ),
    h1 AS (SELECT DISTINCT e.dst AS node_id FROM e JOIN starts s ON e.src = s.node_id),
    h2 AS (SELECT DISTINCT e.dst AS node_id FROM e JOIN h1 ON e.src = h1.node_id)
    SELECT node_id, min(hop) AS hop FROM (
      SELECT node_id, 1 AS hop FROM h1 UNION ALL SELECT node_id, 2 AS hop FROM h2)
    GROUP BY node_id
    """,
    "bounded-hop mesh traversal follow(start, 2 hops) as iterative "
    "frontier-broadcast joins (logic_mesh.rs:459-514)",
)
def q60_mesh_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mesh

    t = catalog.load(spark, sf_dir)
    _, edges = mesh.mesh_from_tpch(t.customer, t.supplier, t.nation, t.region)
    starts = t.customer.filter(F.col("c_custkey") < 20).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("node_id")
    )
    return mesh.follow(edges, starts, hops=2)


@spec(
    "q61_adaptive_cutoff",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), post AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('vector','stream') GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, len({SQL_TOKS.format(x='text')}) AS dl FROM documents
    ), stats AS (SELECT count(*)::double AS n_docs FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    dft AS (SELECT tok, count(*)::double AS df FROM post GROUP BY tok),
    weights AS (
      SELECT p.doc_id,
             ln(1.0 + (s.n_docs - f.df + 0.5)/(f.df + 0.5))
               * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS w
      FROM post p JOIN dft f USING (tok) JOIN dl l USING (doc_id), stats s, avgdl a
    ),
    bm AS (
      SELECT doc_id, round(sum(w),6) AS score FROM weights GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    r AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
             lag(score) OVER (ORDER BY score DESC, doc_id) AS prev
      FROM bm
    ),
    c AS (SELECT min(rank) FILTER (WHERE prev IS NOT NULL AND score < 0.9 * prev) AS cliff FROM r)
    SELECT doc_id, score, rank FROM r, c WHERE c.cliff IS NULL OR rank < c.cliff
    """,
    "adaptive cutoff ScoreCliff: dynamic k from the score curve "
    "(types/adaptive.rs:27-33, api.rs:492-628)",
)
def q61_adaptive_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import adaptive

    t = catalog.load(spark, sf_dir)
    hits = search.bm25_topk(t.documents, ["vector", "stream"], k=20)
    return adaptive.score_cliff(hits, drop_ratio=0.9).select("doc_id", "score", "rank")


# one representative per resolver family, anchored Wed 2024-01-17 12:00 UTC
# (events data spans only Jan 2024 — later phrases legitimately hit 0 rows)
TEMPORAL_PHRASES = [
    "last week", "yesterday", "today", "this week", "3 days ago",
    "two fridays ago", "this monday", "in the last 24 hours",
    "this morning", "q1 2024", "end of this month", "1/5/2024",
    "on the sunday after next", "start of next month",
]


@spec(
    "q59_temporal_phrase",
    None,  # oracle computed below (bounds come from the shared resolver)
    "NL temporal phrases → pushed-down bounds, one row per phrase family "
    "(src/analysis/temporal.rs:92-607): fixed/relative/weekday/clock/"
    "quarter/numeric-date phrases resolve driver-side against an anchored "
    "clock; the 14-row bounds table broadcasts against one events scan "
    "(never one scan per phrase), zero-hit phrases kept via a literal "
    "left join",
)
def q59_temporal_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from .plans.temporal import resolve_ns

    t = catalog.load(spark, sf_dir)
    anchor = datetime(2024, 1, 17, 12, 0, tzinfo=timezone.utc)
    rows = [(ph, *resolve_ns(ph, anchor)) for ph in TEMPORAL_PHRASES]
    bounds = local_frame(spark, rows, "phrase string, lo_ns long, hi_ns long")
    ev = t.events
    hits = (
        ev.join(
            F.broadcast(bounds),
            (ev.ts >= bounds.lo_ns) & (ev.ts < bounds.hi_ns),
        )
        .groupBy("phrase")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        bounds.join(hits, "phrase", "left")
        .select(
            "phrase",
            F.expr("lo_ns div 1000").alias("lo_us"),
            F.expr("hi_ns div 1000").alias("hi_us"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@spec(
    "q62_hybrid_search",
    f"""
    WITH e AS (
      SELECT 'supplier:'||s_suppkey::varchar AS src,
             'nation:'||s_nationkey::varchar AS dst FROM supplier
      UNION ALL
      SELECT 'nation:'||n_nationkey::varchar, 'region:'||n_regionkey::varchar FROM nation
    ),
    region_nations AS (
      SELECT e.src AS node_id FROM e WHERE e.dst = 'region:0'
    ),
    graph_suppliers AS (
      SELECT e.src AS node_id FROM e JOIN region_nations rn ON e.dst = rn.node_id
    ),
    doc_entities AS (
      SELECT doc_id, 'supplier:'||(doc_id % 10)::varchar AS entity FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ),
    lex AS (
      SELECT doc_id, count(*)::double AS score FROM toks
      WHERE tok IN ('vector','index') GROUP BY doc_id
    )
    SELECT l.doc_id, d.entity, l.score
    FROM lex l
    JOIN doc_entities d USING (doc_id)
    WHERE d.entity IN (SELECT node_id FROM graph_suppliers)
    ORDER BY l.score DESC, l.doc_id LIMIT 10
    """,
    "hybrid search: graph pattern match semi-joined into lexical "
    "retrieval (src/graph_search.rs:285-307,369-437)",
)
def q62_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mesh

    t = catalog.load(spark, sf_dir)
    _, edges = mesh.mesh_from_tpch(t.customer, t.supplier, t.nation, t.region)
    # graph side: suppliers located in nations of region 0 (2 hops inbound)
    starts = local_frame(spark, [("region:0",)], "node_id string")
    reached = mesh.follow(edges, starts, hops=2, direction="in")
    graph_suppliers = reached.filter(F.col("node_id").startswith("supplier:"))
    # text side: lexical hits, each doc linked to a supplier entity
    doc_entities = t.documents.select(
        "doc_id",
        F.concat(F.lit("supplier:"), (F.col("doc_id") % 10).cast("string")).alias(
            "entity"
        ),
    )
    lex = search.lex_topk(t.documents, ["vector", "index"], k=1_000_000)
    return (
        lex.join(doc_entities, "doc_id")
        .join(
            F.broadcast(graph_suppliers.select(F.col("node_id").alias("entity"))),
            "entity",
            "left_semi",
        )
        .select("doc_id", "entity", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@spec(
    "q77_acl_enforce",
    """
    WITH framed AS (
      SELECT doc_id,
             'tenant' || (doc_id % 3)::varchar AS acl_tenant,
             CASE WHEN doc_id % 5 = 0 THEN 'private' ELSE 'public' END AS acl_visibility,
             CASE WHEN doc_id % 2 = 0 THEN 'analyst' ELSE 'admin' END AS acl_role
      FROM documents
    )
    SELECT doc_id, acl_tenant, acl_visibility, acl_role FROM framed
    WHERE acl_tenant = 'tenant1'
      AND (acl_visibility = 'public' OR acl_role IN ('analyst'))
    """,
    "ACL enforce: tenant+visibility+role predicate pushed into the scan "
    "(src/memvid/acl.rs, applied search/mod.rs:266-274)",
)
def q77_acl_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.acl import AclContext, acl_columns_from_doc_id, enforce

    t = catalog.load(spark, sf_dir)
    framed = t.documents.select("doc_id", *acl_columns_from_doc_id(F.col("doc_id")))
    ctx = AclContext(tenant="tenant1", principal="alice", roles=["analyst"])
    return enforce(framed, ctx)


@spec(
    "q78_acl_audit",
    """
    WITH framed AS (
      SELECT doc_id,
             'tenant' || (doc_id % 3)::varchar AS acl_tenant,
             CASE WHEN doc_id % 5 = 0 THEN 'private' ELSE 'public' END AS acl_visibility,
             CASE WHEN doc_id % 2 = 0 THEN 'analyst' ELSE 'admin' END AS acl_role
      FROM documents
    )
    SELECT doc_id,
           (acl_tenant = 'tenant1'
            AND (acl_visibility = 'public' OR acl_role IN ('analyst'))) AS acl_allowed
    FROM framed
    """,
    "ACL audit mode: annotate instead of filter (acl.rs Audit vs Enforce)",
)
def q78_acl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.acl import AclContext, acl_columns_from_doc_id, audit

    t = catalog.load(spark, sf_dir)
    framed = t.documents.select("doc_id", *acl_columns_from_doc_id(F.col("doc_id")))
    ctx = AclContext(tenant="tenant1", principal="alice", roles=["analyst"])
    return audit(framed, ctx).select("doc_id", "acl_allowed")


# =========================================================================
# Ingestion surface (SURVEY §2.10, M6): chunking, enrichment extraction,
# PII masking, versioning/tombstones/time-travel/vacuum
# =========================================================================

SQL_FRAMES = """
    frames AS (
      SELECT doc_id AS frame_id, text,
             CASE WHEN doc_id % 25 = 0 THEN 'deleted' ELSE 'active' END AS status,
             CASE WHEN doc_id % 10 = 0 AND doc_id > 0 THEN doc_id - 1 END AS supersedes
      FROM documents
    )
"""


@spec(
    "q70_chunking",
    f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOKS.format(x='text')} AS toks FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             (1 + ceil(greatest(len(toks) - 40, 0) / 30.0))::int AS chunk_count
      FROM t
    )
    SELECT doc_id AS parent_id, i::int AS chunk_index, chunk_count,
           array_to_string(toks[i*30 + 1 : i*30 + 40], ' ') AS chunk_text,
           least(n - i*30, 40)::int AS n_tokens
    FROM sized, unnest(generate_series(0, chunk_count - 1)) AS g(i)
    """,
    "token-budget window chunker with overlap + lineage — the UDTF "
    "surface (structure/chunker.rs, planner.rs:17-73, frame.rs:205-213)",
)
def q70_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import chunk_documents

    t = catalog.load(spark, sf_dir)
    return chunk_documents(t.documents, chunk_tokens=40, stride=30)


@spec(
    "q71_auto_tags",
    None,  # oracle inlined below via sql_auto_tags (computed)
    "auto-tagging rule catalog at ingest (analysis/auto_tag.rs; "
    "PutOptions.auto_tag, lib.rs:873-894)",
)
def q71_auto_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.extract import auto_tags

    t = catalog.load(spark, sf_dir)
    tags = auto_tags("text")
    return t.documents.select(
        "doc_id",
        F.concat_ws(",", tags).alias("tags"),
        F.size(tags).alias("n_tags"),
    )


@spec(
    "q72_pii_masking",
    None,  # oracle inlined below (computed from shared regexes)
    "PII masking: email/SSN/phone regex chain (src/pii.rs:30-71)",
)
def q72_pii_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.extract import mask_pii

    t = catalog.load(spark, sf_dir)
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example.com call 555-123-4567 ssn 123-45-6789 re: "),
        F.substring(F.col("text"), 1, 40),
    )
    return t.documents.filter(F.col("doc_id") < 100).select(
        "doc_id", mask_pii(synth).alias("masked")
    )


@spec(
    "q73_uri_titles",
    """
    WITH u AS (
      SELECT doc_id,
             'mv2://docs/intro-to-' || lang || '_' || doc_id || '.md' AS uri
      FROM documents
    )
    SELECT doc_id, uri,
           array_to_string(
             list_transform(
               string_split(regexp_replace(regexp_replace(
                 string_split(uri, '/')[-1], '\\.[A-Za-z0-9]+$', ''),
                 '[-_]+', ' ', 'g'), ' '),
               w -> upper(w[1]) || w[2:]),
             ' ') AS title
    FROM u
    """,
    "default_uri + infer_title_from_uri (src/lib.rs:481-537)",
)
def q73_uri_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.extract import infer_title_from_uri

    t = catalog.load(spark, sf_dir)
    uri = F.concat(
        F.lit("mv2://docs/intro-to-"),
        F.col("lang"),
        F.lit("_"),
        F.col("doc_id").cast("string"),
        F.lit(".md"),
    )
    return t.documents.select(
        "doc_id", uri.alias("uri"), infer_title_from_uri(uri).alias("title")
    )


@spec(
    "q74_active_view",
    f"""
    WITH {SQL_FRAMES}
    SELECT frame_id FROM frames
    WHERE status = 'active'
      AND frame_id NOT IN (SELECT supersedes FROM frames WHERE supersedes IS NOT NULL)
    """,
    "live rows under append-only versioning: tombstones + supersedes "
    "chains excluded (mutation.rs:3150-3287)",
)
def q74_active_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.versioning import active_view, frames_from_documents

    t = catalog.load(spark, sf_dir)
    return active_view(frames_from_documents(t.documents)).select("frame_id")


@spec(
    "q75_time_travel",
    f"""
    WITH {SQL_FRAMES}, pre AS (SELECT * FROM frames WHERE frame_id <= 200)
    SELECT frame_id FROM pre
    WHERE status = 'active'
      AND frame_id NOT IN (SELECT supersedes FROM pre WHERE supersedes IS NOT NULL)
    """,
    "as-of-frame time travel: active view at an id cut (search.rs:61-65, "
    "api.rs:663-695)",
)
def q75_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.versioning import as_of_frame, frames_from_documents

    t = catalog.load(spark, sf_dir)
    return as_of_frame(frames_from_documents(t.documents), 200).select("frame_id")


@spec(
    "q76_vacuum",
    f"""
    WITH {SQL_FRAMES}
    SELECT count(*) AS n_live, count(supersedes) AS n_chain_refs,
           sum(length(text))::bigint AS live_bytes
    FROM (
      SELECT frame_id, text, CAST(NULL AS BIGINT) AS supersedes FROM frames
      WHERE status = 'active'
        AND frame_id NOT IN (SELECT supersedes FROM frames WHERE supersedes IS NOT NULL)
    )
    """,
    "vacuum/compaction: rewrite live rows, clear chain bookkeeping "
    "(mutation.rs:2999-3084)",
)
def q76_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.versioning import frames_from_documents, vacuum

    t = catalog.load(spark, sf_dir)
    v = vacuum(frames_from_documents(t.documents))
    return v.agg(
        F.count("*").alias("n_live"),
        F.count("supersedes").alias("n_chain_refs"),
        F.sum(F.length("text")).alias("live_bytes"),
    )


@spec(
    "q80_multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS mime,
           length(text)::bigint AS n_bytes,
           sha256(text) AS checksum,
           length(text)::double AS f0,
           (list_sum(list_transform(generate_series(1, least(length(text), 64)),
                                    i -> ord(text[i]))) % 251)::double AS f1,
           ord(text[1])::double AS f2,
           ord(text[-1])::double AS f3,
           ('0x' || substr(md5(text), 1, 2))::int::double AS f4,
           ('0x' || substr(md5(text), 3, 2))::int::double AS f5,
           (('0x' || substr(md5(text), 5, 4))::int % 997)::double AS f6,
           length(CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                       WHEN doc_id % 3 = 1 THEN 'audio/wav'
                       ELSE 'video/mp4' END)::double AS f7
    FROM documents
    """,
    "multimodal pipeline: binary payload + typed metadata → mapInPandas "
    "feature extraction (deterministic stand-in decode; metadata.rs, "
    "lib.rs:1251-1313) — every byte of the Arrow round-trip oracle-checked",
)
def q80_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.multimodal import extract_features, media_from_documents

    t = catalog.load(spark, sf_dir)
    feats = extract_features(media_from_documents(t.documents))
    cols = [F.element_at("feat", i + 1).cast("double").alias(f"f{i}") for i in range(8)]
    return feats.select("media_id", "mime", "n_bytes", "checksum", *cols)


@spec(
    "q25_embedding_near_dups",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::double[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding::double[], x -> x * 1.001)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    bk AS (
      SELECT vec_id, v,
        array_to_string(list_transform(v[1:8],
          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM base
    )
    SELECT a, b, cos FROM (
      SELECT x.vec_id AS a, y.vec_id AS b,
             round({SQL_COS.format(a='x.v', b='y.v')}, 6) AS cos
      FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ) WHERE cos >= 0.999
    """,
    "embedding-cosine near-dup via sign-pattern LSH buckets (planted "
    "scaled copies as ground truth) — bucketed join, never O(n²); the "
    "training-data dedup family's embedding tier",
)
def q25_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    planted = dedup.plant_near_dups(t.embeddings, every=10)
    return dedup.embedding_near_dup_pairs(planted, threshold=0.999, n_sign_bits=8)


@spec(
    "q43_rolling_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS t FROM documents),
    grams AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks WHERE len(t) >= 3
    ),
    fp AS (
      SELECT DISTINCT doc_id,
        ('0x' || substr(md5(gram), 1, 15))::bigint AS fingerprint
      FROM grams
    )
    SELECT doc_id, fingerprint FROM fp WHERE fingerprint % 4 = 0
    """,
    "document fingerprinting: token 3-gram rolling hashes, mod-4 sampled "
    "(Broder 0-mod-p selection) — overlap detection becomes a fingerprint "
    "equi-join; text-analysis family",
)
def q43_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return dedup.rolling_fingerprints(t.documents, k=3, p=4)


# =========================================================================
# Structure detection & structural chunking (SURVEY §2.10;
# src/structure/detector.rs, src/structure/chunker.rs)
# =========================================================================

# DuckDB twin of structure.demo_structured_lines + detect_structure:
# render deterministic structured lines, classify (code-fence parity,
# heading/table prefixes), gaps-and-islands into blocks.
SQL_STRUCT_BLOCKS = """
    wds AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    rendered AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN list_concat(base, extra) ELSE base END AS ls
      FROM (
        SELECT doc_id,
          ['# doc ' || doc_id,
           array_to_string(w[1:8], ' '),
           '## details',
           '| key | value |',
           '| w1 | ' || coalesce(w[9], 'pad9') || ' |',
           '| w2 | ' || coalesce(w[10], 'pad10') || ' |',
           '| w3 | ' || coalesce(w[11], 'pad11') || ' |',
           '```',
           'let x = "' || coalesce(w[12], 'pad12') || '"',
           '```',
           coalesce(array_to_string(w[13:20], ' '), '')] AS base,
          ['### extra', '| k | v |',
           '| e | ' || coalesce(w[21], 'pad21') || ' |'] AS extra
        FROM wds)
    ),
    lines AS (
      SELECT doc_id,
             unnest(generate_series(1, len(ls)))::int - 1 AS line_no, ls
      FROM rendered
    ),
    lines2 AS (SELECT doc_id, line_no, ls[line_no + 1] AS line FROM lines),
    fenced AS (
      SELECT doc_id, line_no, line,
        sum(CASE WHEN line = '```' THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY line_no
                ROWS UNBOUNDED PRECEDING) AS fcnt
      FROM lines2
    ),
    kinds AS (
      SELECT doc_id, line_no, line,
        CASE WHEN line = '```' OR fcnt % 2 = 1 THEN 'code'
             WHEN line LIKE '#%' THEN 'heading'
             WHEN line LIKE '|%' THEN 'table'
             WHEN trim(line) = '' THEN 'blank'
             ELSE 'para' END AS kind
      FROM fenced
    ),
    ctx AS (
      SELECT doc_id, line_no, line, kind,
        last_value(CASE WHEN kind = 'heading' THEN line END IGNORE NULLS)
          OVER (PARTITION BY doc_id ORDER BY line_no
                ROWS UNBOUNDED PRECEDING) AS heading_ctx,
        line_no - row_number()
          OVER (PARTITION BY doc_id, kind ORDER BY line_no) AS grp
      FROM kinds
    ),
    blocks AS (
      SELECT doc_id, kind,
             min(line_no)::int AS block_start,
             count(*)::bigint AS n_lines,
             string_agg(line, chr(10) ORDER BY line_no) AS content,
             min_by(heading_ctx, line_no) AS heading_ctx
      FROM ctx WHERE kind <> 'blank'
      GROUP BY doc_id, kind, grp
    )
"""


@spec(
    "q81_structure_blocks",
    f"""
    WITH {SQL_STRUCT_BLOCKS}
    SELECT doc_id, kind, block_start, n_lines, content, heading_ctx
    FROM blocks
    """,
    "structure detection: line classification (code-fence parity, "
    "heading/table prefixes) + gaps-and-islands block assembly "
    "(src/structure/detector.rs; SURVEY §2.10) — two windows + one "
    "groupBy, zero Python",
)
def q81_structure_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.structure import demo_structured_lines, detect_structure

    t = catalog.load(spark, sf_dir)
    return detect_structure(demo_structured_lines(t.documents))


@spec(
    "q82_structural_chunks",
    f"""
    WITH {SQL_STRUCT_BLOCKS},
    parts AS (
      SELECT doc_id, block_start, kind, heading_ctx,
        str_split(content, chr(10)) AS ls
      FROM blocks
    ),
    chunked AS (
      SELECT doc_id, block_start, kind, heading_ctx,
        CASE WHEN kind = 'table' AND len(ls) - 1 > 2 THEN
          list_transform(
            generate_series(0, (ceil((len(ls) - 1) / 2.0))::int - 1),
            i -> ls[1] || chr(10) ||
                 array_to_string(ls[i * 2 + 2 : i * 2 + 3], chr(10)))
        ELSE [array_to_string(ls, chr(10))] END AS chunks
      FROM parts
    )
    SELECT doc_id, block_start, kind, heading_ctx,
           unnest(generate_series(1, len(chunks)))::int - 1 AS chunk_index,
           chunks[unnest(generate_series(1, len(chunks)))] AS chunk_text
    FROM chunked
    """,
    "structural chunker: tables split between rows with the header row "
    "propagated per chunk, code/headings/paragraphs kept whole, heading "
    "context carried (src/structure/chunker.rs:1-60) — pure projection",
)
def q82_structural_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.structure import (
        demo_structured_lines,
        detect_structure,
        structural_chunks,
    )

    t = catalog.load(spark, sf_dir)
    blocks = detect_structure(demo_structured_lines(t.documents))
    return structural_chunks(blocks, max_table_rows=2)


# =========================================================================
# Reader registry & structured sheet extraction (SURVEY §2.1;
# src/reader/mod.rs, src/reader/xlsx_table_detect.rs)
# =========================================================================


@spec(
    "q83_format_sniffing",
    """
    SELECT doc_id,
           'mv2://docs/' || doc_id ||
             CASE doc_id % 4 WHEN 0 THEN '.txt' WHEN 1 THEN '.pdf'
                             WHEN 2 THEN '.docx' ELSE '.xlsx' END AS uri,
           CASE doc_id % 4 WHEN 0 THEN 'text' WHEN 1 THEN 'pdf'
                           WHEN 2 THEN 'docx' ELSE 'xlsx' END AS fmt,
           text,
           length(text)::bigint AS n_chars
    FROM documents
    """,
    "reader registry: magic-bytes + extension format sniffing, per-format "
    "dispatch over Arrow batches (src/reader/mod.rs:28-39,177-217; "
    "mutation.rs:229-321) — extraction round-trips the demo containers",
)
def q83_format_sniffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import demo_payloads, extract_documents

    t = catalog.load(spark, sf_dir)
    return extract_documents(demo_payloads(t.documents))


@spec(
    "q117_binary_extract",
    """
    SELECT doc_id,
           'mv2://docs/' || doc_id ||
             CASE doc_id % 4 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx'
                             WHEN 2 THEN '.xlsx' ELSE '.pptx' END AS uri,
           CASE doc_id % 4 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                           WHEN 2 THEN 'xlsx' ELSE 'pptx' END AS fmt,
           text,
           length(text)::bigint AS n_chars
    FROM documents
    """,
    "REAL binary-format round-trip: each document serialized to a valid "
    "PDF/DOCX/XLSX/PPTX by the stdlib writers, then extracted back by the "
    "stdlib parsers (zlib Flate + content-stream ops for PDF, zip+XML for "
    "OOXML) — src/reader/mod.rs:201-217 sniff→extract→text with genuine "
    "byte streams; the oracle is exact text identity",
)
def q117_binary_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import binary_payloads, extract_documents

    t = catalog.load(spark, sf_dir)
    return extract_documents(binary_payloads(t.documents))


@spec(
    "q151_xls_extract",
    """
    SELECT doc_id, 'mv2://docs/' || doc_id || '.xls' AS uri, 'xls' AS fmt,
           text, length(text)::bigint AS n_chars
    FROM documents
    """,
    "REAL legacy .xls round-trip: each document serialized to a valid "
    "CFB+BIFF8 file (sources/xls.py from the MS-CFB/MS-XLS specs — "
    "miniFAT placement, SST, NUMBER/BOOLERR cells) then sniffed by the "
    "OLE2 magic and extracted back by the BIFF reader — the reference's "
    "XlsReader tier (src/reader/xls.rs via calamine); the oracle is "
    "exact text identity",
)
def q151_xls_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import extract_documents, xls_payloads

    t = catalog.load(spark, sf_dir)
    return extract_documents(xls_payloads(t.documents))


@spec(
    "q84_sheet_tables",
    """
    WITH wds AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    sheet AS (
      SELECT doc_id,
        ['name,qty,price']
        || list_transform(generate_series(1, (doc_id % 3 + 2)::int),
             i -> coalesce(w[1], 'pad1') || ',' || (doc_id + i) || ','
                  || (doc_id % 90 + i) || '.5')
        || ['', 'city,code']
        || [coalesce(w[2], 'pad2') || ',' || (doc_id * 7)] AS ls
      FROM wds
    ),
    rows_ AS (
      SELECT doc_id, unnest(generate_series(1, len(ls)))::int - 1 AS row_no, ls
      FROM sheet
    ),
    r2 AS (SELECT doc_id, row_no, ls[row_no + 1] AS row FROM rows_),
    isl AS (
      SELECT doc_id, row_no, row, trim(row) = '' AS blank,
        row_no - row_number()
          OVER (PARTITION BY doc_id, trim(row) = '' ORDER BY row_no) AS grp
      FROM r2
    ),
    tab AS (
      SELECT doc_id, row_no, row,
        (dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1)::int
          AS table_index
      FROM isl WHERE NOT blank
    ),
    numbered AS (
      SELECT *, row_number()
        OVER (PARTITION BY doc_id, table_index ORDER BY row_no) AS rn
      FROM tab
    ),
    cells AS (
      SELECT doc_id, table_index, rn, str_split(row, ',') AS cs,
        unnest(generate_series(1, len(str_split(row, ','))))::int - 1
          AS col_index
      FROM numbered
    ),
    c2 AS (
      SELECT doc_id, table_index, rn, col_index, cs[col_index + 1] AS cell
      FROM cells
    ),
    hdr AS (
      SELECT doc_id, table_index, col_index, cell AS header
      FROM c2 WHERE rn = 1
    ),
    typed AS (
      SELECT doc_id, table_index, col_index, count(*)::bigint AS n_rows,
        min(CASE WHEN regexp_matches(cell, '^-?[0-9]+$')
                 THEN 1 ELSE 0 END) AS all_int,
        min(CASE WHEN regexp_matches(cell, '^-?[0-9]+(\\.[0-9]+)?$')
                 THEN 1 ELSE 0 END) AS all_num
      FROM c2 WHERE rn > 1 GROUP BY 1, 2, 3
    )
    SELECT doc_id, table_index, col_index, header,
           CASE WHEN all_int = 1 THEN 'int'
                WHEN all_num = 1 THEN 'double' ELSE 'str' END AS dtype,
           n_rows
    FROM hdr JOIN typed USING (doc_id, table_index, col_index)
    """,
    "XLSX-style structured extraction: blank-row islands → tables, row 1 "
    "→ header, strictest-type column vote int ⊂ double ⊂ str "
    "(src/reader/xlsx_table_detect.rs; tests/xlsx_structured.rs:60-529). "
    "Pure relational path (this is a bench headline query); the same "
    "detector over REAL .xlsx bytes is oracle-checked by q117 plus the "
    "end-to-end bytes→sheet_tables pytest — a per-doc zip round-trip "
    "here cost 7× wall for no added coverage",
)
def q84_sheet_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import demo_sheets, sheet_tables

    t = catalog.load(spark, sf_dir)
    return sheet_tables(demo_sheets(t.documents))


@spec(
    "q119_xlsx_chunks",
    """
    WITH RECURSIVE wds AS (SELECT doc_id, str_split(text, ' ') AS w
                           FROM documents),
    sheet AS (
      SELECT doc_id,
        ['name,qty,price']
        || list_transform(generate_series(1, (doc_id % 3 + 2)::int),
             i -> coalesce(w[1], 'pad1') || ',' || (doc_id + i) || ','
                  || (doc_id % 90 + i) || '.5')
        || ['', 'city,code']
        || [coalesce(w[2], 'pad2') || ',' || (doc_id * 7)] AS ls
      FROM wds
    ),
    rows_ AS (
      SELECT doc_id, unnest(generate_series(1, len(ls)))::int - 1 AS row_no, ls
      FROM sheet
    ),
    r2 AS (SELECT doc_id, row_no, ls[row_no + 1] AS row FROM rows_),
    isl AS (
      SELECT doc_id, row_no, row, trim(row) = '' AS blank,
        row_no - row_number()
          OVER (PARTITION BY doc_id, trim(row) = '' ORDER BY row_no) AS grp
      FROM r2
    ),
    tab AS (
      SELECT doc_id, row_no, row,
        (dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1)::int
          AS table_index
      FROM isl WHERE NOT blank
    ),
    numbered AS (
      SELECT *, row_number()
        OVER (PARTITION BY doc_id, table_index ORDER BY row_no) AS rn
      FROM tab
    ),
    cells AS (
      SELECT doc_id, table_index, rn, str_split(row, ',') AS cs,
        unnest(generate_series(1, len(str_split(row, ','))))::int - 1
          AS col_index
      FROM numbered
    ),
    c2 AS (
      SELECT doc_id, table_index, rn, col_index, cs[col_index + 1] AS cell
      FROM cells
    ),
    hdr AS (
      SELECT doc_id, table_index, col_index, cell AS header
      FROM c2 WHERE rn = 1
    ),
    parts AS (
      SELECT c.doc_id, c.table_index, c.rn, c.col_index,
             CASE WHEN coalesce(h.header, '') <> ''
                  THEN h.header || ': ' || c.cell ELSE c.cell END AS part
      FROM c2 c LEFT JOIN hdr h
        USING (doc_id, table_index, col_index)
      WHERE c.rn > 1 AND c.cell <> ''
    ),
    lines AS (
      SELECT doc_id, table_index, rn,
             string_agg(part, ' | ' ORDER BY col_index) AS line
      FROM parts GROUP BY doc_id, table_index, rn
      HAVING string_agg(part, ' | ' ORDER BY col_index) <> ''
    ),
    hline AS (
      SELECT doc_id, table_index,
             string_agg(header, ' | ' ORDER BY col_index) AS header_line
      FROM hdr WHERE header <> '' GROUP BY doc_id, table_index
    ),
    seq AS (
      SELECT l.doc_id, l.table_index, l.line,
        '[Sheet: sheet1] [Table: t' || l.table_index || ']' || chr(10) ||
        CASE WHEN coalesce(h.header_line, '') <> ''
             THEN h.header_line || chr(10) ELSE '' END AS prefix,
        row_number() OVER (PARTITION BY l.doc_id, l.table_index
                           ORDER BY l.rn) AS k
      FROM lines l LEFT JOIN hline h USING (doc_id, table_index)
    ),
    rec AS (
      SELECT doc_id, table_index, k, prefix, line, 0 AS chunk_index,
             length(prefix) + length(line) + 1 AS cur_len
      FROM seq WHERE k = 1
      UNION ALL
      SELECT s.doc_id, s.table_index, s.k, s.prefix, s.line,
        CASE WHEN r.cur_len + length(s.line) + 1 > 80
             THEN r.chunk_index + 1 ELSE r.chunk_index END,
        CASE WHEN r.cur_len + length(s.line) + 1 > 80
             THEN length(s.prefix) + length(s.line) + 1
             ELSE r.cur_len + length(s.line) + 1 END
      FROM rec r JOIN seq s
        ON s.doc_id = r.doc_id AND s.table_index = r.table_index
        AND s.k = r.k + 1
    ),
    chunks AS (
      SELECT doc_id, table_index, chunk_index,
             count(*)::int AS n_rows,
             any_value(prefix) || string_agg(line, chr(10) ORDER BY k)
               AS chunk_text
      FROM rec GROUP BY doc_id, table_index, chunk_index
    ),
    capped AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY table_index, chunk_index) AS wk
      FROM chunks
    )
    SELECT doc_id, table_index::int AS table_index,
           chunk_index::int AS chunk_index, n_rows, chunk_text
    FROM capped WHERE wk <= 500
    """,
    "row-aligned XLSX semantic chunking (src/reader/xlsx_chunker.rs): "
    "rows never split, every chunk carries [Sheet]/[Table] context + the "
    "header line, rows render Header: Value | ... with empty cells "
    "skipped, greedy bin-pack to max_chars=80 (oversize first row still "
    "emits), workbook capped at 500 chunks in table order — the oracle "
    "replicates the sequential pack with a recursive CTE",
)
def q119_xlsx_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import demo_sheets, sheet_chunks

    t = catalog.load(spark, sf_dir)
    return sheet_chunks(demo_sheets(t.documents), max_chars=80)


@spec(
    "q79_budgeted_extract",
    """
    SELECT doc_id, 'skim' AS phase,
           substr(text, 1, 200) AS text_part,
           greatest(length(text) - 200, 0)::bigint AS remaining_chars
    FROM documents
    UNION ALL
    SELECT doc_id, 'pending_full', substr(text, 201),
           0::bigint
    FROM documents WHERE length(text) > 200
    """,
    "budgeted extraction: cheap skim pass now, pending-full rows queued "
    "for the background pass (src/extract_budgeted.rs:25-460) — the "
    "two-phase job split, pure projection",
)
def q79_budgeted_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import budgeted_extract

    t = catalog.load(spark, sf_dir)
    return budgeted_extract(t.documents, budget_chars=200)


@spec(
    "q36_hash_embeddings",
    None,  # filled by _computed_oracles via sql_hash_embedding
    "pluggable VecEmbedder surface: deterministic token-hash projection, "
    "unit-normalized — portable column algebra on both engines "
    "(VecEmbedder trait lib.rs:211; dim contract mutation.rs:3329-3349)",
)
def q36_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.embed import HashEmbedder, assert_dimension

    t = catalog.load(spark, sf_dir)
    e = HashEmbedder(dim=8)
    emb = e.embed_df(t.documents.filter(F.col("doc_id") < 200))
    assert_dimension(emb, 8)
    comps = [
        F.element_at("embedding", j + 1).alias(f"e{j}") for j in range(8)
    ]
    return emb.select("doc_id", *comps)


@spec(
    "q37_clip_crossmodal",
    None,  # filled by _computed_oracles via sql_hash_embedding
    "CLIP second embedding space: image-mime frames carry their own "
    "vectors (clip.rs:99-102); text→image search = embed the query in "
    "the same space, cosine top-k (api.rs:165-257, clip.rs:297-380)",
)
def q37_clip_crossmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.embed import HashEmbedder
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    e = HashEmbedder(dim=8, model="clip-hash-v1")
    images = t.documents.filter(F.col("doc_id") % 3 == 0)  # image frames
    clip = e.embed_df(images).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    qvec = e.embed_query("spark join merge")
    return knn(clip, qvec, k=10)


def _sql_cap(i: int) -> str:
    w = f"coalesce(w[{i}], 'pad{i}')"
    return f"(upper(substr({w}, 1, 1)) || substr({w}, 2))"


SQL_SENTENCES = f"""
    wds AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id,
        {_sql_cap(1)} || ' works at ' || {_sql_cap(2)} || 'Corp. '
        || {_sql_cap(3)} || ' lives in ' || {_sql_cap(4)} || '. '
        || {_sql_cap(5)} || ' likes ' || {_sql_cap(6)} || '.' AS sentence
      FROM wds
    )
"""


def _sql_triplet_arm(pat: str, pred: str) -> str:
    return f"""
    SELECT doc_id,
           coalesce(regexp_extract(m, '{pat}', 1), '') AS subject,
           '{pred}' AS predicate,
           coalesce(regexp_extract(m, '{pat}', 2), '') AS object
    FROM (SELECT doc_id, unnest(regexp_extract_all(sentence, '{pat}', 0)) AS m
          FROM s)
    """


@spec(
    "q44_spo_triplets",
    None,  # filled by _computed_oracles from the shared pattern catalog
    "SPO triplet extraction: regex pattern catalog, all matches per doc "
    "(src/triplet/extractor.rs:20-150, src/enrich/rules.rs rules tier) — "
    "the catalog constant feeds BOTH engines",
)
def q44_spo_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.enrich import render_person_sentences, spo_triplets

    t = catalog.load(spark, sf_dir)
    return spo_triplets(render_person_sentences(t.documents))


@spec(
    "q45_ner_entities",
    None,  # filled by _computed_oracles from the shared rule constants
    "rule-tier NER: proper-case tokens → ORG (suffix / 'at X'), LOC "
    "('in X'), PER default, graded confidence (src/analysis/ner.rs:1-55 "
    "hybrid mode with the model absent)",
)
def q45_ner_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.enrich import ner_entities, render_person_sentences

    t = catalog.load(spark, sf_dir)
    return ner_entities(render_person_sentences(t.documents))


@spec(
    "q29_candidate_intersection",
    f"""
    WITH toks AS (
      SELECT doc_id FROM (
        SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok
        FROM documents
      ) WHERE tok = 'spark' GROUP BY doc_id
    ),
    recent AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    quality AS (SELECT doc_id FROM documents WHERE n_chars >= 200)
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id IN (SELECT doc_id FROM toks)
      AND d.doc_id IN (SELECT doc_id FROM recent)
      AND d.doc_id IN (SELECT doc_id FROM quality)
    """,
    "candidate-set intersection before scoring: chained left_semi joins "
    "of independent pruners with driver-side empty-short-circuit "
    "(src/memvid/search/mod.rs:84-230; SURVEY §3.1 step 3)",
)
def q29_candidate_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens
    from .operators.candidates import intersect_candidates

    t = catalog.load(spark, sf_dir)
    has_tok = t.documents.filter(
        F.array_contains(tokens("text"), "spark")
    ).select("doc_id")
    recent = t.documents.filter(F.col("doc_id") < 400).select("doc_id")
    quality = t.documents.filter(F.col("n_chars") >= 200).select("doc_id")
    return intersect_candidates(
        t.documents.select("doc_id", "n_chars"), has_tok, recent, quality
    )


@spec(
    "q28_salted_agg",
    """
    SELECT event_type, count(*)::bigint AS n_rows,
           round(sum(value), 2) AS total
    FROM events GROUP BY event_type
    """,
    "skew-safe two-phase salted aggregation: phase 1 on (key, "
    "deterministic salt), phase 2 merges partials — identical result to "
    "the direct groupBy (the hot-key half of the AQE skew story; "
    "SURVEY §7 100 TB posture)",
)
def q28_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_agg

    t = catalog.load(spark, sf_dir)
    return salted_agg(t.events, "event_type", "value", n_salts=8)


@spec(
    "q93_entity_canonicalization",
    None,  # filled by _computed_oracles (reuses NER SQL)
    "entity canonicalization into MeshNodes: surface forms merge under a "
    "case/whitespace-insensitive canonical key; display name and kind by "
    "majority vote, frame sets unioned (logic_mesh.rs:27-80 "
    "canonical_name)",
)
def q93_entity_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.enrich import ner_entities, render_person_sentences
    from .operators.mesh import canonicalize_entities

    t = catalog.load(spark, sf_dir)
    return canonicalize_entities(ner_entities(render_person_sentences(t.documents)))


@spec(
    "q92_enrichment_pipeline",
    None,  # filled by _computed_oracles (reuses NER + triplet SQL)
    "EnrichmentEngine pipeline: auto-tags, content dates, NER, triplets "
    "composed in one pass, docs advance Searchable→Enriched "
    "(lib.rs:255, enrich/engine.rs; frame.rs:227-230 progressive state)",
)
def q92_enrichment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.enrich import enrich_documents

    t = catalog.load(spark, sf_dir)
    return enrich_documents(t.documents)


@spec(
    "q27_bloom_prefilter",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok
      FROM documents
    ),
    probes AS (
      SELECT doc_id, tok, 0 AS s FROM toks
      UNION ALL SELECT doc_id, tok, 1 FROM toks
    ),
    h AS (
      SELECT doc_id,
        ('0x' || substr(md5(tok || '#' || s), 1, 15))::bigint AS hv
      FROM probes
    ),
    bl AS (
      SELECT doc_id,
        bit_or(CASE WHEN hv % 2 = 0
               THEN (1::bigint << ((hv // 2) % 60)) ELSE 0 END) AS w0,
        bit_or(CASE WHEN hv % 2 = 1
               THEN (1::bigint << ((hv // 2) % 60)) ELSE 0 END) AS w1
      FROM h GROUP BY doc_id
    ),
    qh AS (
      SELECT ('0x' || substr(md5(t || '#' || s), 1, 15))::bigint AS hv
      FROM (VALUES ('spark'), ('join')) AS q(t), (VALUES (0), (1)) AS pr(s)
    ),
    qm AS (
      SELECT
        bit_or(CASE WHEN hv % 2 = 0
               THEN (1::bigint << ((hv // 2) % 60)) ELSE 0 END) AS m0,
        bit_or(CASE WHEN hv % 2 = 1
               THEN (1::bigint << ((hv // 2) % 60)) ELSE 0 END) AS m1
      FROM qh
    ),
    ver AS (
      SELECT doc_id, count(DISTINCT tok) AS n FROM toks
      WHERE tok IN ('spark', 'join') GROUP BY doc_id
    )
    SELECT b.doc_id, b.w0, b.w1,
           CASE WHEN coalesce(ver.n, 0) = 2 THEN 1 ELSE 0 END AS has_all
    FROM bl b CROSS JOIN qm LEFT JOIN ver ON b.doc_id = ver.doc_id
    WHERE (b.w0 & qm.m0) = qm.m0 AND (b.w1 & qm.m1) = qm.m1
    """,
    "term Bloom prefilter: 120-bit filter as two 60-bit words, 2 "
    "md5 probes/token; candidates = docs with every probe bit set — "
    "no false negatives, has_all exposes the false-positive rate "
    "(sketch_track.rs:607-648; wired as pre-filter mod.rs:189-230)",
)
def q27_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens as tok_fn

    t = catalog.load(spark, sf_dir)
    blooms = dedup.term_bloom_table(t.documents)
    cands = dedup.bloom_prefilter(blooms, ["spark", "join"])
    has_all = (
        F.array_contains(tok_fn("text"), "spark")
        & F.array_contains(tok_fn("text"), "join")
    ).cast("int")
    return cands.join(
        t.documents.select("doc_id", has_all.alias("has_all")), "doc_id"
    )


def _sql_bm25_cte(terms: list[str], k: int) -> str:
    """BM25 CTE chain ending in relation `bm25hits(doc_id, score)` —
    shared by q12-style scoring and downstream rerank oracles."""
    in_list = ",".join(f"'{t}'" for t in terms)
    return f"""
    toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS tok FROM documents
    ), post AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ({in_list}) GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, len({SQL_TOKS.format(x='text')}) AS dl FROM documents
    ), stats AS (SELECT count(*)::double AS n_docs FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    dft AS (SELECT tok, count(*)::double AS df FROM post GROUP BY tok),
    weights AS (
      SELECT p.doc_id,
             ln(1.0 + (s.n_docs - f.df + 0.5)/(f.df + 0.5))
               * (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS w
      FROM post p
      JOIN dft f USING (tok)
      JOIN dl l USING (doc_id), stats s, avgdl a
    ),
    bm25hits AS (
      SELECT doc_id, round(sum(w),6) AS score FROM weights
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {k}
    )
    """


@spec(
    "q65_diversification",
    """
    WITH hits AS (
      SELECT doc_id, source, n_chars::double AS rrf FROM documents
      ORDER BY rrf DESC, doc_id LIMIT 30
    )
    SELECT doc_id, source, rrf FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY rrf DESC, doc_id) AS dr
      FROM hits
    ) WHERE dr <= 2
    """,
    "aggregation diversification: cap hits per group (session/uri-prefix) "
    "so one source cannot dominate the answer (ask.rs:1300-1334)",
)
def q65_diversification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ask import diversify

    t = catalog.load(spark, sf_dir)
    hits = (
        t.documents.select(
            "doc_id", "source", F.col("n_chars").cast("double").alias("rrf")
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(30)
    )
    return diversify(hits, "source", cap=2)


@spec(
    "q66_semantic_rerank",
    None,  # filled by _computed_oracles (needs the hash-embedding twin)
    "semantic rerank: lexical score min-max normalized within the hit "
    "set, blended 50/50 with cosine(query, doc) and re-sorted "
    "(reorder_hits_with_semantic_scores, ask.rs:712-830)",
)
def q66_semantic_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.embed import HashEmbedder
    from .operators.ask import semantic_rerank

    t = catalog.load(spark, sf_dir)
    e = HashEmbedder(dim=8)
    # O(hits), not O(corpus): checkpoint the 20-row hit list (one BM25
    # job), broadcast-semi-join the corpus down to the hit documents,
    # and embed ONLY those — the reference's per-hit rerank shape
    # (ask.rs:712-830 scores just the hit list). The former full-corpus
    # embed was the one headline plan that failed the 100 TB test
    # (probe-measured 81× wall at 100× data); the semi-join variant's
    # extra stage only loses below ~10k docs, where both are <0.5 s.
    hits = search.bm25_topk(
        t.documents, ["table", "window", "merge"], k=20
    ).localCheckpoint()
    hit_docs = t.documents.join(
        F.broadcast(hits.select("doc_id")), "doc_id", "left_semi"
    )
    emb = e.embed_df(hit_docs)
    qvec = e.embed_query("table window merge")
    return semantic_rerank(
        hits, emb, qvec, blend=0.5, vec_id_col="doc_id", prune=True
    )


@spec(
    "q67_entity_decoration",
    None,  # filled by _computed_oracles (reuses the NER rule SQL)
    "Logic-Mesh entity enrichment of hits: NER mentions aggregate into "
    "MeshNodes carrying frame_ids; hits decorate by explode+broadcast "
    "join (search/mod.rs:277-279, mesh.rs:181)",
)
def q67_entity_decoration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.enrich import ner_entities, render_person_sentences
    from .operators.mesh import decorate_hits, nodes_from_entities

    t = catalog.load(spark, sf_dir)
    ents = ner_entities(render_person_sentences(t.documents))
    nodes = nodes_from_entities(ents)
    hits = (
        t.documents.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .select("doc_id")
        .limit(10)
    )
    return decorate_hits(hits, nodes)


@spec(
    "q63_correction_promotion",
    r"""
    WITH hits AS (
      SELECT doc_id,
        CASE WHEN doc_id % 20 = 0 THEN 'mv2://correction/' || doc_id
             ELSE 'mv2://docs/' || doc_id END AS uri,
        n_chars::double AS score
      FROM documents ORDER BY score DESC, doc_id LIMIT 30
    ),
    p AS (
      SELECT *,
        CASE WHEN uri LIKE 'mv2://correction/%' THEN 1 ELSE 0 END
          AS is_correction,
        CASE WHEN uri LIKE 'mv2://correction/%'
             THEN regexp_extract(uri, 'mv2://correction/(\d+)', 1)::bigint
             ELSE -1 END AS corr_ts
      FROM hits
    )
    SELECT doc_id, uri, score, is_correction, corr_ts,
      row_number() OVER (ORDER BY is_correction DESC, corr_ts DESC,
                         score DESC, doc_id) AS final_rank
    FROM p
    """,
    "correction promotion: mv2://correction/* hits float to the top, "
    "newest first, over the score order — runs last in the rerank stack "
    "because corrections override everything (ask.rs:1437-1494)",
)
def q63_correction_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ask import promote_corrections

    t = catalog.load(spark, sf_dir)
    uri = (
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.lit("mv2://correction/"), F.col("doc_id")),
        ).otherwise(F.concat(F.lit("mv2://docs/"), F.col("doc_id")))
    )
    hits = (
        t.documents.select(
            "doc_id", uri.alias("uri"), F.col("n_chars").cast("double").alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(30)
    )
    return promote_corrections(hits)


@spec(
    "q64_extremes_promotion",
    """
    WITH pool AS (
      SELECT event_id, epoch_us(ts) AS ts_us, round(value, 2) AS value
      FROM events WHERE event_type = 'click'
    ),
    hits AS (SELECT * FROM pool ORDER BY value DESC, event_id LIMIT 10),
    u AS (
      SELECT *, 0 AS is_extreme FROM hits
      UNION ALL
      SELECT p.*, 1
      FROM pool p, (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM pool) b
      WHERE p.ts_us = b.lo OR p.ts_us = b.hi
    )
    SELECT event_id, ts_us, value, max(is_extreme) AS is_extreme
    FROM u GROUP BY event_id, ts_us, value
    """,
    "temporal-extremes promotion: earliest+latest candidate rows are "
    "guaranteed into the hit set for update/recency questions "
    "(ask.rs:1500+) — one tiny min/max aggregate, no extra scan of hits",
)
def q64_extremes_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ask import promote_extremes

    t = catalog.load(spark, sf_dir)
    pool = t.events.filter(F.col("event_type") == "click").select(
        "event_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.round("value", 2).alias("value"),
    )
    hits = pool.orderBy(F.col("value").desc(), F.col("event_id")).limit(10)
    return promote_extremes(hits, pool, ts_col="ts_us", id_col="event_id")


# =========================================================================
# Replay track & doctor audits (src/replay/types.rs, src/replay/engine.rs,
# src/memvid/doctor.rs; SURVEY §1.2, §3.3)
# =========================================================================

SQL_REPLAY_FP = (
    "('0x' || substr(md5(action_type || chr(31) || coalesce(params, '') "
    "|| chr(31) || coalesce(round(value * 100)::bigint::varchar, '')), "
    "1, 15))::bigint"
)

SQL_REPLAY_ACTS = """
    acts AS (
      SELECT user_id AS session_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
        event_type AS action_type, props AS params, value
      FROM events
    ),
    fp AS (
      SELECT session_id, seq, action_type, {f} AS f FROM acts
    )
""".format(f=SQL_REPLAY_FP)


@spec(
    "q85_replay_divergence",
    f"""
    WITH {SQL_REPLAY_ACTS},
    a AS (SELECT seq, action_type AS a_type, f AS a_fp FROM fp WHERE session_id = 1),
    b AS (SELECT seq, action_type AS b_type, f AS b_fp FROM fp WHERE session_id = 2)
    SELECT seq,
      CASE WHEN a_fp IS NULL THEN 'only_b' WHEN b_fp IS NULL THEN 'only_a'
           WHEN a_fp = b_fp THEN 'same' ELSE 'diverged' END AS status,
      coalesce(a_type, '') AS a_type, coalesce(b_type, '') AS b_type
    FROM a FULL OUTER JOIN b USING (seq)
    """,
    "replay divergence diff: seq-aligned full outer join of two recorded "
    "sessions, statuses same/diverged/only_a/only_b "
    "(src/replay/engine.rs:118-637)",
)
def q85_replay_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import replay

    t = catalog.load(spark, sf_dir)
    acts = replay.actions_from_events(t.events)
    return replay.divergence_diff(
        replay.session_log(acts, 1), replay.session_log(acts, 2)
    )


@spec(
    "q86_replay_checkpoints",
    f"""
    WITH {SQL_REPLAY_ACTS},
    cum AS (
      SELECT session_id, seq,
        count(*) OVER w AS n_actions,
        ('0x' || substr(md5(string_agg(f::varchar, '|') OVER w), 1, 15))::bigint
          AS state_hash
      FROM fp
      WINDOW w AS (PARTITION BY session_id ORDER BY seq
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT session_id, seq, n_actions, state_hash FROM cum WHERE seq % 5 = 0
    """,
    "replay checkpoints: every 5th action per session carries the "
    "cumulative state hash (fold of action fingerprints) — a re-run "
    "whose checkpoints match replayed deterministically "
    "(StateSnapshot, src/replay/types.rs:21-275)",
)
def q86_replay_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import replay

    t = catalog.load(spark, sf_dir)
    return replay.replay_checkpoints(replay.actions_from_events(t.events), every=5)


@spec(
    "q87_doctor_report",
    """
    WITH docs_k AS (SELECT DISTINCT doc_id AS k FROM documents),
    emb_k AS (
      SELECT DISTINCT vec_id AS k FROM embeddings WHERE vec_id % 7 <> 3
    ),
    sk_k AS (
      SELECT DISTINCT CASE WHEN vec_id % 50 = 0 THEN vec_id + 10000
                           ELSE vec_id END AS k
      FROM embeddings
    )
    SELECT 'duplicate_key' AS check, 'frames' AS table_name,
           (SELECT count(*) FROM (SELECT doc_id FROM documents
             GROUP BY doc_id HAVING count(*) > 1))::bigint AS n_affected
    UNION ALL
    SELECT 'missing', 'embeddings',
           (SELECT count(*) FROM docs_k
             WHERE k NOT IN (SELECT k FROM emb_k))::bigint
    UNION ALL
    SELECT 'orphaned', 'embeddings',
           (SELECT count(*) FROM emb_k
             WHERE k NOT IN (SELECT k FROM docs_k))::bigint
    UNION ALL
    SELECT 'missing', 'sketches',
           (SELECT count(*) FROM docs_k
             WHERE k NOT IN (SELECT k FROM sk_k))::bigint
    UNION ALL
    SELECT 'orphaned', 'sketches',
           (SELECT count(*) FROM sk_k
             WHERE k NOT IN (SELECT k FROM docs_k))::bigint
    """,
    "doctor/verify audit: anti-join checks of derived tables against "
    "frames — missing (stale index), orphaned (tombstone leak), "
    "duplicate-key invariant (src/memvid/doctor.rs; audit.rs:44-224). "
    "Demo corrupts the derived tables deterministically",
)
def q87_doctor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.doctor import doctor_report

    t = catalog.load(spark, sf_dir)
    stale_emb = t.embeddings.filter(F.col("vec_id") % 7 != 3)
    drifted_sketches = t.embeddings.select(
        F.when(F.col("vec_id") % 50 == 0, F.col("vec_id") + 10000)
        .otherwise(F.col("vec_id"))
        .alias("vec_id")
    )
    return doctor_report(
        t.documents,
        {"embeddings": stale_emb, "sketches": drifted_sketches},
        frame_key="doc_id",
        derived_keys={"embeddings": "vec_id", "sketches": "vec_id"},
    )


# =========================================================================
# Training-data pipeline surface (driver mandate, beyond the reference):
# decontamination, context packing, deterministic splits, range joins,
# cube/grouping sets, exact percentile stats.
# =========================================================================

from .operators import traindata  # noqa: E402

_DECON_N = traindata.DECON_N
_DECON_GRAM_SQL = "||' '||".join(f"ts[i+{d}]" for d in range(_DECON_N))


@spec(
    "q94_decontamination",
    f"""
    WITH toks AS (SELECT doc_id, source, {SQL_TOKS.format(x='text')} AS ts
                  FROM documents),
    g AS (SELECT doc_id, source,
            ('0x' || substr(md5(unnest(
              CASE WHEN len(ts) >= {_DECON_N}
                   THEN list_transform(generate_series(1, len(ts)-{_DECON_N - 1}),
                                       i -> {_DECON_GRAM_SQL})
                   ELSE []::varchar[] END)), 1, 15))::bigint AS gram
          FROM toks),
    gd AS (SELECT DISTINCT doc_id, source, gram FROM g),
    bench AS (SELECT DISTINCT gram FROM gd WHERE source = 'src0'),
    counts AS (SELECT doc_id, count(*)::bigint AS n_grams
               FROM gd WHERE source <> 'src0' GROUP BY doc_id),
    hits AS (SELECT gd.doc_id, count(*)::bigint AS n_hits
             FROM gd JOIN bench USING (gram)
             WHERE gd.source <> 'src0' GROUP BY gd.doc_id)
    SELECT d.doc_id, coalesce(c.n_grams, 0) AS n_grams,
           coalesce(h.n_hits, 0) AS n_hits,
           coalesce(round(h.n_hits / nullif(c.n_grams, 0), 6), 0.0)
             AS contamination,
           (coalesce(h.n_hits, 0) > 0)::int AS contaminated
    FROM documents d
    LEFT JOIN counts c USING (doc_id) LEFT JOIN hits h USING (doc_id)
    WHERE d.source <> 'src0'
    """,
    "benchmark decontamination: distinct 8-gram collision join against "
    "the benchmark corpus (broadcast small side); the standard "
    "training-data contamination check",
)
def q94_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return traindata.decontaminate(t.documents, F.col("source") == "src0")


@spec(
    "q95_pack_context_windows",
    f"""
    WITH t AS (SELECT source, doc_id,
                      len({SQL_TOKS.format(x='text')}) AS n_tok
               FROM documents),
    c AS (SELECT *, coalesce(sum(n_tok) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM t),
    s AS (SELECT source, doc_id, n_tok,
                 floor(cum / {traindata.PACK_BUDGET})::bigint AS shard
          FROM c)
    SELECT source, shard, count(*) AS n_docs, sum(n_tok)::bigint AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM s GROUP BY source, shard
    """,
    "greedy context-window packing: per-grain prefix-sum shard "
    "assignment (the sequence-packing step of a training pipeline)",
)
def q95_pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return traindata.pack_windows(t.documents)


_SPLIT_BUCKET_SQL = (
    "('0x' || substr(md5(doc_id::varchar || '#"
    + traindata.SPLIT_SALT
    + "'), 1, 15))::bigint % 100"
)


@spec(
    "q96_stratified_split",
    f"""
    WITH s AS (
      SELECT lang, n_chars, {SQL_TOKS.format(x='text')} AS ts,
             CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           sum(len(ts))::bigint AS n_tokens
    FROM s GROUP BY split, lang
    """,
    "deterministic train/val/test split from the portable md5 hash of "
    "the id — reproducible across engines/runs; per-(split, lang) "
    "stratification stats",
)
def q96_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    s = traindata.split_assign(t.documents)
    return s.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.size(T.tokens("text"))).alias("n_tokens"),
    )


@spec(
    "q97_event_pair_rangejoin",
    """
    WITH p AS (
      SELECT e1.user_id,
             epoch_us(e2.ts) - epoch_us(e1.ts) AS gap_us
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND e2.ts > e1.ts
       AND e2.ts <= e1.ts + INTERVAL 300 SECOND)
    SELECT user_id, count(*) AS n_pairs,
           round(avg(gap_us), 4) AS avg_gap_us
    FROM p GROUP BY user_id
    """,
    "range self-join via time-bucket banding: inequality join rewritten "
    "as an equi-join on (user, bucket) with a 2-bucket explode — "
    "shuffle-partitionable where a theta join would nested-loop",
)
def q97_event_pair_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    pairs = traindata.banded_pairs(t.events)
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("gap_us"), 4).alias("avg_gap_us"),
    )


@spec(
    "q98_cube_events",
    """
    WITH e AS (SELECT coalesce(event_type, '') AS et,
                      extract(hour FROM ts)::int AS hr, value
               FROM events)
    SELECT coalesce(et, '*') AS event_type, coalesce(hr, -1) AS hour,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM e GROUP BY CUBE (et, hr)
    """,
    "CUBE over (event_type, hour) — grouping-sets surface the reference "
    "lacks, free in both engines (SURVEY §2.4 note)",
)
def q98_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    e = t.events.select(
        F.coalesce("event_type", F.lit("")).alias("et"),
        F.hour(F.timestamp_micros(F.expr("ts div 1000"))).alias("hr"),
        F.col("value"),
    )
    return (
        e.cube("et", "hr")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce("et", F.lit("*")).alias("event_type"),
            F.coalesce("hr", F.lit(-1)).alias("hour"),
            "n",
            "sum_value",
        )
    )


@spec(
    "q99_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    "exact linear-interpolation percentiles per group — the "
    "embedding_quality-style distribution stats generalized "
    "(src/memvid/search/api.rs:638-661)",
)
def q99_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n"),
    )


from .operators.knn import srp_hyperplanes  # noqa: E402

_SRP_PLANES = srp_hyperplanes(dim=64)


def _sql_srp_bucket(v: str) -> str:
    terms = " + ".join(
        f"CASE WHEN list_dot_product({v}, "
        f"[{', '.join(repr(x) for x in h)}]) >= 0 THEN {1 << j} ELSE 0 END"
        for j, h in enumerate(_SRP_PLANES)
    )
    return f"({terms})::bigint"


@spec(
    "q100_lsh_ann",
    f"""
    WITH q AS (SELECT embedding::double[] AS qv FROM embeddings
               WHERE vec_id = 1),
    qb AS (SELECT qv, {_sql_srp_bucket('qv')} AS qbucket FROM q),
    b AS (SELECT vec_id, embedding::double[] AS v,
                 {_sql_srp_bucket('embedding::double[]')} AS bucket
          FROM embeddings WHERE vec_id <> 1),
    cand AS (SELECT vec_id,
                    round({SQL_COS.format(a='v', b='qv')}, 6) AS score
             FROM b, qb WHERE bit_count(xor(bucket, qbucket)) <= 2),
    top AS (SELECT vec_id, score FROM cand
            ORDER BY score DESC, vec_id LIMIT 10)
    SELECT vec_id, score,
           row_number() OVER (ORDER BY score DESC, vec_id) AS rank
    FROM top
    """,
    "SRP-LSH approximate kNN: multi-probe Hamming ball over packed "
    "sign-projection buckets, exact rerank within candidates — the "
    "third ANN tier beside IVF (q35) and PQ (q34); bucket assignment "
    "is the offline index (partition-prunable probe list at scale)",
)
def q100_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 1).head().embedding
    ]
    return knn.lsh_knn(
        t.embeddings, qvec, k=10, planes=_SRP_PLANES, max_flips=2, exclude_id=1
    )


@spec(
    "q101_incremental_postings",
    f"""
    WITH final_corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 20 = 0 THEN text || ' refreshed content'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 20 <> 5
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' appended copy' AS text
      FROM documents WHERE doc_id >= 30 AND doc_id < 40
    ),
    t AS (SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS token
          FROM final_corpus)
    SELECT doc_id, token, count(*)::bigint AS tf
    FROM t GROUP BY doc_id, token
    """,
    "incremental index maintenance: postings updated by anti-join+append "
    "of a change batch (updates, tombstones, inserts) must equal a full "
    "rebuild of the final corpus — the WAL-delta commit analogue "
    "(mutation.rs:739-918); the oracle computes the rebuild side",
)
def q101_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import incremental

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    base_postings = search.build_postings(docs)
    upd = docs.filter(F.col("doc_id") % 20 == 0).select(
        "doc_id", F.concat("text", F.lit(" refreshed content")).alias("text")
    )
    ins = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" appended copy")).alias("text"),
    )
    dele = docs.filter(F.col("doc_id") % 20 == 5).select("doc_id")
    changed_ids = (
        upd.select("doc_id").unionByName(dele).unionByName(ins.select("doc_id"))
    )
    changed_docs = upd.unionByName(ins)
    return incremental.incremental_postings(base_postings, changed_ids, changed_docs)


@spec(
    "q102_dup_clusters",
    """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 20
    ),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b
      FROM corpus l JOIN corpus r
        ON sha256(l.text) = sha256(r.text) AND l.doc_id < r.doc_id
    ),
    und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.node
    ),
    cc AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node)
    SELECT cluster, count(*) AS n_docs, max(node) AS max_doc
    FROM cc GROUP BY cluster
    """,
    "duplicate-group clustering: exact-dup pairs -> connected components "
    "(min-label propagation) -> one cluster row per duplicate group; "
    "the transitive-grouping step after any pairwise dedup (q20-q25)",
)
def q102_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mesh

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    corpus = docs
    for off, bound in ((1000000, 50), (2000000, 20)):
        corpus = corpus.unionByName(
            docs.filter(F.col("doc_id") < bound).select(
                (F.col("doc_id") + off).alias("doc_id"), "text"
            )
        )
    hashed = corpus.select("doc_id", F.sha2("text", 256).alias("sha"))
    pairs = (
        hashed.alias("l")
        .join(hashed.alias("r"), "sha")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    cc = mesh.connected_components(pairs)
    return cc.groupBy("cluster").agg(
        F.count("*").alias("n_docs"), F.max("node").alias("max_doc")
    )


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_MIX_DEFAULT = 0.1
_MIX_BUCKET_SQL = (
    "('0x' || substr(md5(doc_id::varchar || '#"
    + traindata.MIXTURE_SALT
    + "'), 1, 15))::bigint % 10000"
)
_MIX_THRESH_SQL = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {int(round(r * 10000))}"
    for s, r in sorted(_MIX_RATES.items())
) + f" ELSE {int(round(_MIX_DEFAULT * 10000))} END"


@spec(
    "q103_mixture_sample",
    f"""
    WITH kept AS (
      SELECT source, {SQL_TOKS.format(x='text')} AS ts FROM documents
      WHERE {_MIX_BUCKET_SQL} < {_MIX_THRESH_SQL}
    ),
    k AS (SELECT source, count(*)::bigint AS n_kept,
                 sum(len(ts))::bigint AS n_tokens
          FROM kept GROUP BY source),
    tot AS (SELECT source, count(*)::bigint AS n_total FROM documents
            GROUP BY source)
    SELECT t.source, t.n_total, coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.n_tokens, 0) AS n_tokens,
           round(coalesce(k.n_kept, 0) / t.n_total, 4) AS achieved_rate
    FROM tot t LEFT JOIN k USING (source)
    """,
    "deterministic dataset-mixture sampling: per-source keep rates via "
    "the portable id hash (no RNG, no sampling pass, narrow filter) — "
    "the up/down-sampling mixing step of a training-data pipeline",
)
def q103_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    kept = traindata.mixture_sample(
        t.documents, _MIX_RATES, default_rate=_MIX_DEFAULT
    )
    k = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.size(T.tokens("text"))).alias("n_tokens"),
    )
    tot = t.documents.groupBy("source").agg(F.count("*").alias("n_total"))
    return tot.join(k, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.round(
            F.coalesce("n_kept", F.lit(0)) / F.col("n_total"), 4
        ).alias("achieved_rate"),
    )


_GATE_STOP_SQL = (
    "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in T.STOPWORDS) + "]"
)


@spec(
    "q104_quality_gates",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
               FROM documents),
    v AS (SELECT doc_id, len(ts) AS n_tok,
            len(list_filter(ts, x -> list_contains({_GATE_STOP_SQL}, x)))
              AS n_stop
          FROM t),
    lab AS (SELECT doc_id, n_tok,
              CASE WHEN n_tok < {traindata.GATE_MIN_TOKENS} THEN 'too_short'
                   WHEN n_tok > {traindata.GATE_MAX_TOKENS} THEN 'too_long'
                   WHEN n_stop = 0 THEN 'no_stopwords'
                   ELSE 'kept' END AS verdict
            FROM v)
    SELECT verdict, count(*)::bigint AS n_docs, sum(n_tok)::bigint AS n_tokens
    FROM lab GROUP BY verdict
    """,
    "Gopher/C4-style quality gates: first-failing-rule verdict per doc "
    "(length bounds, zero-stopword boilerplate heuristic) with per-rule "
    "rejection stats — the corpus-cleaning pass of a training pipeline",
)
def q104_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    labeled = traindata.quality_gates(t.documents)
    return labeled.groupBy("verdict").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )


@spec(
    "q105_vocabulary",
    f"""
    WITH tok AS (SELECT unnest({SQL_TOKS.format(x='text')}) AS token
                 FROM documents),
    tc AS (SELECT token, count(*)::bigint AS n FROM tok GROUP BY token),
    tot AS (SELECT sum(n) AS total FROM tc),
    ranked AS (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token) AS rank,
             sum(n) OVER (ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM tc)
    SELECT token, n, rank, round(cum / tot.total, 6) AS coverage
    FROM ranked, tot WHERE rank <= 100
    """,
    "vocabulary builder: top-100 corpus tokens with cumulative coverage "
    "share — the frequency analysis preceding tokenizer training. Scale "
    "posture: top-100 via TakeOrderedAndProject (never a global window "
    "over the full vocab — at 100 TB that is a single-task sort of the "
    "whole distinct-token table), then rank + cumulative sum by a "
    "k×k broadcast triangle self-join over the 100 survivors; cumsum "
    "over the top-k prefix equals the global cumsum for those rows "
    "because (n DESC, token) is a total order",
)
def q105_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    tc = (
        t.documents.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = tc.orderBy(F.col("n").desc(), F.col("token").asc()).limit(100)
    a, b = top.alias("a"), top.alias("b")
    before = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.token") <= F.col("a.token"))
    )
    ranked = (
        a.join(F.broadcast(b), before)
        .groupBy(F.col("a.token").alias("token"), F.col("a.n").alias("n"))
        .agg(F.count("*").alias("rank"), F.sum("b.n").alias("cum"))
    )
    total = tc.agg(F.sum("n").alias("total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "token",
            "n",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("cum") / F.col("total"), 6).alias("coverage"),
        )
    )


@spec(
    "q106_asof_join",
    """
    WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'view'),
    r0 AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
                  row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE event_type = 'purchase'),
    r AS (SELECT user_id, ts_us, value FROM r0 WHERE rn = 1)
    SELECT l.event_id, l.user_id, l.ts_us,
           round(coalesce(r.value, -1), 2) AS last_purchase
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND r.ts_us <= l.ts_us
    """,
    "two-table as-of join (trade/quote): each view event picks the "
    "latest purchase at-or-before it per user — union+tag+window "
    "carry-forward, one uniform shuffle, no range join; DuckDB's native "
    "ASOF JOIN is the oracle (memory.rs:236-243 generalized)",
)
def q106_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    # all comparisons in epoch-micros: sub-us nanos would make the
    # inclusive <= boundary disagree with the oracle's us timestamps
    ev = t.events.withColumn("ts_us", F.expr("ts div 1000"))
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    joined = asof.asof_join(
        views, purchases, key="user_id", val_col="value", ts_col="ts_us"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(F.coalesce("asof_value", F.lit(-1)), 2).alias("last_purchase"),
    )


@spec(
    "q107_collocations",
    f"""
    WITH d AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
               FROM documents),
    tok AS (SELECT DISTINCT doc_id, unnest(ts) AS token FROM d),
    df AS (SELECT token, count(*)::bigint AS n FROM tok GROUP BY token),
    tot AS (SELECT count(*)::bigint AS n_docs FROM documents),
    capped AS MATERIALIZED (
      SELECT doc_id, token FROM (
        SELECT t.doc_id, t.token,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY f.n ASC, t.token ASC) AS rk
        FROM tok t JOIN df f USING (token) WHERE f.n >= 5)
      WHERE rk <= 200),
    pairs AS (
      SELECT a.doc_id, a.token AS ta, b.token AS tb
      FROM capped a JOIN capped b
        ON a.doc_id = b.doc_id AND a.token < b.token),
    pc AS (SELECT ta, tb, count(*)::bigint AS n_ab FROM pairs
           GROUP BY ta, tb),
    scored AS (
      SELECT pc.ta, pc.tb, pc.n_ab,
             round(pc.n_ab * tot.n_docs / (fa.n * fb.n), 6) AS lift
      FROM pc JOIN df fa ON fa.token = pc.ta
              JOIN df fb ON fb.token = pc.tb, tot
      WHERE pc.n_ab >= 5)
    SELECT ta, tb, n_ab, lift,
           row_number() OVER (ORDER BY lift DESC, ta, tb) AS rank
    FROM scored ORDER BY lift DESC, ta, tb LIMIT 50
    """,
    "collocation mining: document-level token-pair lift "
    "(P(a,b)/P(a)P(b) without the log — integer-ratio arithmetic stays "
    "engine-portable where ln would not) — corpus analysis for "
    "phrase/stopword discovery. Scale guard: pair generation is gated by "
    "a document-frequency floor — a pair needs n_ab >= MIN_SUPPORT and "
    "n_ab <= min(df(a), df(b)), so tokens with df < MIN_SUPPORT are "
    "pruned BEFORE the per-doc self-join (exact, not approximate); at "
    "real corpus sizes the df<5 long tail is most of the vocabulary, so "
    "this bounds the O(L^2) pair blowout to frequent tokens only. "
    "Second guard: a per-doc cap (200 tokens, rarest-first by df) bounds "
    "pair generation at O(docs x cap^2) even when — as at 100 TB — "
    "nearly every token clears the absolute df floor; rarest-first "
    "ranking keeps exactly the tokens that produce the top lift pairs",
)
def q107_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    MIN_SUPPORT = 5
    # Per-doc cap: at 100 TB almost every token clears an absolute df
    # floor, so the floor alone no longer bounds the O(L^2) per-doc pair
    # blowout. Keep each doc's 200 rarest frequent tokens (df asc, token
    # asc — deterministic): high-lift pairs come from low-df tokens, so
    # the cap discards only the low-lift mass. Applied identically in the
    # oracle, so results agree at every scale by construction.
    MAX_DOC_TOKENS = 200
    t = catalog.load(spark, sf_dir)
    tok = (
        t.documents.select(
            "doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("token")
        )
    )
    df_counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    frequent = df_counts.filter(F.col("n") >= MIN_SUPPORT)
    wcap = Window.partitionBy("doc_id").orderBy(
        F.col("n").asc(), F.col("token").asc()
    )
    tok = (
        tok.join(F.broadcast(frequent), "token")
        .withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= MAX_DOC_TOKENS)
        .select("doc_id", "token")
    )
    n_docs = t.documents.count()
    a = tok.select("doc_id", F.col("token").alias("ta"))
    b = tok.select("doc_id", F.col("token").alias("tb"))
    pc = (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_SUPPORT)
    )
    fa = df_counts.select(F.col("token").alias("ta"), F.col("n").alias("na"))
    fb = df_counts.select(F.col("token").alias("tb"), F.col("n").alias("nb"))
    scored = (
        pc.join(F.broadcast(fa), "ta")
        .join(F.broadcast(fb), "tb")
        .select(
            "ta",
            "tb",
            "n_ab",
            F.round(
                F.col("n_ab") * F.lit(n_docs) / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
    )
    order = [F.col("lift").desc(), F.col("ta").asc(), F.col("tb").asc()]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order).limit(50).withColumn("rank", F.row_number().over(w))
    )


@spec(
    "q108_sliding_rollup",
    """
    WITH e AS (
      SELECT event_type, value,
             epoch_us(ts) - epoch_us(ts) % (1800 * 1000000) AS b30
      FROM events),
    w AS (SELECT event_type, value,
                 unnest([b30, b30 - 1800 * 1000000]) AS window_start_us
          FROM e)
    SELECT window_start_us, event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM w GROUP BY window_start_us, event_type
    """,
    "sliding-window rollup (1h window, 30m slide): every event lands in "
    "exactly two overlapping windows — the sliding twin of q51's "
    "tumbling rollup (SURVEY §2.11); the oracle derives both covering "
    "window starts arithmetically",
)
def q108_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    ev = t.events.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )
    return (
        ev.groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@spec(
    "q109_clean_corpus_pipeline",
    f"""
    WITH t AS (SELECT doc_id, source, lang, text,
                      {SQL_TOKS.format(x='text')} AS ts
               FROM documents),
    v AS (SELECT *, len(ts) AS n_tok,
            len(list_filter(ts, x -> list_contains({_GATE_STOP_SQL}, x)))
              AS n_stop
          FROM t),
    gated AS (
      SELECT * FROM v
      WHERE n_tok >= {traindata.GATE_MIN_TOKENS}
        AND n_tok <= {traindata.GATE_MAX_TOKENS}
        AND n_stop > 0),
    dd AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1),
    cand AS (SELECT doc_id, lang, n_tok, ts FROM dd WHERE source <> 'src0'),
    bg AS (SELECT DISTINCT ('0x' || substr(md5(unnest(
             CASE WHEN len(ts) >= {_DECON_N}
                  THEN list_transform(generate_series(1, len(ts)-{_DECON_N - 1}),
                                      i -> {_DECON_GRAM_SQL})
                  ELSE []::varchar[] END)), 1, 15))::bigint AS gram
           FROM t WHERE source = 'src0'),
    cg AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(unnest(
             CASE WHEN len(ts) >= {_DECON_N}
                  THEN list_transform(generate_series(1, len(ts)-{_DECON_N - 1}),
                                      i -> {_DECON_GRAM_SQL})
                  ELSE []::varchar[] END)), 1, 15))::bigint AS gram
           FROM cand),
    dirty AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)),
    clean AS (SELECT c.* FROM cand c
              WHERE c.doc_id NOT IN (SELECT doc_id FROM dirty)),
    labeled AS (
      SELECT lang, n_tok,
             CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM clean)
    SELECT split, lang, count(*)::bigint AS n_docs,
           sum(n_tok)::bigint AS n_tokens
    FROM labeled GROUP BY split, lang
    """,
    "composed training-data pipeline: quality gates -> exact dedup "
    "(keeper = min id per sha) -> 8-gram decontamination vs the src0 "
    "benchmark -> deterministic split; per-(split, lang) output stats. "
    "The end-to-end corpus-cleaning flow, every stage oracle-replayed",
)
def q109_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "source", "lang", "text")
    gated = traindata.quality_gates(docs).filter(F.col("verdict") == "kept")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy(F.col("doc_id").asc())
    dd = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # Pin the dedup survivors ONCE: the gram pass and the clean-side
    # anti-join below would otherwise each re-run the gates
    # tokenization AND the corpus-wide sha256 window shuffle (three
    # full upstream computes in the old plan — guide §2.4/§5).
    cand = dd.filter(F.col("source") != "src0").select(
        "doc_id", "lang", "text", "n_tok"
    ).localCheckpoint()
    bench = docs.filter(F.col("source") == "src0")
    # The oracle's `dirty` CTE is a pure id set (candidate docs sharing
    # an n-gram with the benchmark) — mine it directly. Equivalent to
    # decontaminate(...).filter(contaminated == 0) consumed as ids
    # (zero-gram docs hit nothing, so they stay clean in both forms)
    # but skips decontaminate's per-doc stats aggregation, which
    # re-shuffled every candidate gram to count hits q109 never
    # surfaces; only the hit grams leave the semi-join here.
    grams = traindata.ngram_set(
        bench.select("doc_id", "text").withColumn("_is_bench", F.lit(True))
        .unionByName(
            cand.select("doc_id", "text").withColumn(
                "_is_bench", F.lit(False)
            )
        ),
        keep_cols=["_is_bench"], hashed=True,
    )
    bench_grams = grams.filter(F.col("_is_bench")).select("gram").distinct()
    dirty = (
        grams.filter(~F.col("_is_bench"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = cand.join(dirty, "doc_id", "left_anti")
    labeled = traindata.split_assign(clean)
    return labeled.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )


@spec(
    "q110_rolling_stats",
    """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 6) AS ma7,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 2) AS running_total
    FROM events
    """,
    "rolling per-entity time-series stats: 7-event moving average + "
    "running total in one window partitioning (single shuffle) — the "
    "metric-smoothing surface over the fact stream",
)
def q110_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return t.events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-6, 0)), 6).alias("ma7"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_total"),
    )


@spec(
    "q111_pivot_orders",
    """
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    "pivot/cross-tab: order priorities widened to columns per status — "
    "conditional aggregation in both engines (groupBy().pivot() is sugar "
    "for the same plan)",
)
def q111_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    cnt = lambda p: F.count(F.when(F.col("o_orderpriority") == p, 1))
    return t.orders.groupBy("o_orderstatus").agg(
        cnt("1-URGENT").alias("urgent"),
        cnt("2-HIGH").alias("high"),
        cnt("3-MEDIUM").alias("medium"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@spec(
    "q112_snapshot_diff",
    """
    WITH old AS (SELECT doc_id, sha256(text) AS sha FROM documents
                 WHERE doc_id % 10 <> 7),
    new AS (SELECT doc_id,
                   sha256(CASE WHEN doc_id % 10 = 3
                               THEN text || ' edited' ELSE text END) AS sha
            FROM documents WHERE doc_id % 10 <> 4),
    d AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.sha <> n.sha THEN 'modified'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT change, count(*)::bigint AS n_docs, min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM d GROUP BY change
    """,
    "snapshot diff: added/removed/modified/unchanged between two corpus "
    "versions via one full-outer join on id with content-hash compare — "
    "the change-detection pass that feeds incremental maintenance (q101)",
)
def q112_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.versioning import snapshot_diff

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 10 != 7)
    new = docs.filter(F.col("doc_id") % 10 != 4).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 3, F.concat("text", F.lit(" edited"))
        ).otherwise(F.col("text")).alias("text"),
    )
    d = snapshot_diff(old, new)
    return d.groupBy("change").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@spec(
    "q113_tfidf_keywords",
    f"""
    WITH toks AS (SELECT doc_id, unnest({SQL_TOKS.format(x='text')}) AS token
                  FROM documents),
    tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM toks
           GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id)::bigint AS df FROM toks
           GROUP BY token),
    n AS (SELECT count(*)::bigint AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * (n.n_docs + 1.0) / (df.df + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (token), n),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rank
      FROM scored)
    SELECT doc_id, token, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    "per-document keyword extraction: top-3 terms by smoothed tf-idf "
    "(ratio form — no log, engine-portable) — document tagging from "
    "corpus statistics; idf side is a broadcast join",
)
def q113_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_c = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = t.documents.count()
    scored = tf.join(F.broadcast(df_c), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.lit(float(n_docs + 1)) / (F.col("df") + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
    )


@spec(
    "q114_repetition_stats",
    f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
                  FROM documents),
    tf AS (SELECT doc_id, unnest(ts) AS token FROM toks),
    per AS (SELECT doc_id, token, count(*)::bigint AS n FROM tf
            GROUP BY doc_id, token),
    agg AS (SELECT doc_id, max(n) AS top_tf, sum(n) AS n_tok,
                   count(*)::bigint AS n_distinct
            FROM per GROUP BY doc_id)
    SELECT doc_id, n_tok::bigint AS n_tok, n_distinct,
           round(top_tf / n_tok, 6) AS top_token_share,
           round(n_distinct / n_tok, 6) AS ttr,
           (top_tf / n_tok > 0.2)::int AS repetitive
    FROM agg
    """,
    "repetition detection: top-token share + type-token ratio per doc "
    "(the Gopher repetition filters complementing q104's gates) — "
    "boilerplate and degenerate text score high share / low TTR",
)
def q114_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    per = (
        t.documents.select("doc_id", F.explode(T.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("n"))
    )
    agg = per.groupBy("doc_id").agg(
        F.max("n").alias("top_tf"),
        F.sum("n").alias("n_tok"),
        F.count("*").alias("n_distinct"),
    )
    share = F.col("top_tf") / F.col("n_tok")
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "n_distinct",
        F.round(share, 6).alias("top_token_share"),
        F.round(F.col("n_distinct") / F.col("n_tok"), 6).alias("ttr"),
        (share > 0.2).cast("int").alias("repetitive"),
    )


@spec(
    "q116_elbow_cutoff",
    f"""
    WITH tf AS (
      SELECT doc_id, len(list_filter({SQL_TOKS.format(x='text')}, t -> t = 'data'))::double AS score
      FROM documents
    ), hits AS (
      SELECT doc_id, score FROM tf WHERE score > 0
      ORDER BY score DESC, doc_id LIMIT 30
    ), r AS (
      SELECT doc_id, score, row_number() OVER w AS rank,
             count(*) OVER () AS n,
             max(score) OVER () AS smax, min(score) OVER () AS smin
      FROM hits WINDOW w AS (ORDER BY score DESC, doc_id)
    ), norm AS (
      SELECT *,
        CASE WHEN smax - smin > 1e-7 THEN (score - smin)/(smax - smin) ELSE 1.0 END AS y,
        (rank - 1)::double / (n - 1) AS x
      FROM r
    ), chord AS (
      SELECT *, first_value(y) OVER w2 AS y1, last_value(y) OVER w2 AS y2
      FROM norm WINDOW w2 AS (ORDER BY score DESC, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ), adj AS (
      SELECT *, CASE WHEN rank >= 2 AND rank <= n - 1 THEN
          (abs((y2 - y1) * x - y + y1) / sqrt((y2 - y1)*(y2 - y1) + 1.0))
            * (1.0 + 1.0 * (1.0 - x))
        END AS a
      FROM chord
    ), m1 AS (SELECT *, max(a) OVER () AS max_a FROM adj),
    m2 AS (
      SELECT *, min(CASE WHEN a = max_a THEN rank END) OVER () AS elbow_rank FROM m1
    )
    SELECT doc_id, score, rank FROM m2
    WHERE n < 3 OR max_a IS NULL OR max_a <= 0.05 OR rank <= elbow_rank
    """,
    "adaptive cutoff Elbow: Kneedle max-distance-to-chord knee detection "
    "over the score curve (adaptive.rs:604-657; strategies :27-33); pure "
    "window algebra, exact same IEEE op order on both engines so the "
    "argmax agrees bit-for-bit (integer tf scores keep libm out of it)",
)
def q116_elbow_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import adaptive

    t = catalog.load(spark, sf_dir)
    tf = F.expr(
        "size(filter(array_remove(split(lower(text), '[^a-z0-9]+'), ''),"
        " x -> x = 'data'))"
    )
    hits = (
        t.documents.select(
            "doc_id", T.pin_expr(tf.cast("double")).alias("score")
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(30)
    )
    return adaptive.elbow(hits, sensitivity=1.0, min_results=1).select(
        "doc_id", "score", "rank"
    )


@spec(
    "q115_hnsw_recall",
    None,  # graph ANN is not SQL-expressible → rows-only; recall vs exact
    "sharded NSW graph ANN — the HNSW tier (src/vec.rs:345-435, M=16, "
    "ef_c=100, ef_s=50): recall@10 vs exact L2 ground truth, the "
    "reference's own validation method (src/vec.rs:587-651)",
)
def q115_hnsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import nsw_recall

    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 3).head().embedding
    ]
    r = nsw_recall(t.embeddings, qvec, k=10, n_shards=4, m=16)
    return local_frame(
        spark,
        [(10, float(r), 4, 16)], "k int, recall double, n_shards int, m int"
    )


# =========================================================================
# Corpus-curation tier 2 (SURVEY §2.13): semantic dedup, survivor
# selection, substring-level dedup, importance resampling — the
# cluster-level operations layered on top of the pairwise dedup family
# =========================================================================


@spec(
    "q144_semdedup",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::double[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::double[], x -> x * 1.001)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    seeds AS (
      SELECT vec_id AS seed_id, v AS sv FROM base ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT b.vec_id, b.v, s.seed_id,
             round({SQL_COS.format(a='b.v', b='s.sv')}, 9) AS c
      FROM base b CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, v, seed_id AS cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY c DESC, seed_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r
        ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      WHERE {SQL_COS.format(a='l.v', b='r.v')} >= 0.999
    )
    SELECT a.vec_id, a.cluster, (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    "SemDeDup (Abbas et al. 2023): deterministic seed clustering of the "
    "embedding space (k lowest-id vectors as seeds — the replayable "
    "stand-in for k-means), then within-cluster cosine>=tau marks all "
    "but the earliest member duplicate; planted scaled copies are the "
    "ground truth. Seeds broadcast, pair gen bounded per cluster.",
)
def q144_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import semdedup as sd

    t = catalog.load(spark, sf_dir)
    planted = dedup.plant_near_dups(t.embeddings, every=10)
    return sd.semdedup(planted, k=8, tau=0.999)


@spec(
    "q145_passage_dedup",
    f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(
               ({SQL_TOKS.format(x='text')})[1:greatest(len({SQL_TOKS.format(x='text')}) // 2, 8)],
               ' ') || ' ' || repeat('u' || doc_id::varchar || ' ', 7) AS text
      FROM documents WHERE doc_id < 40
    ),
    toks AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS t FROM docs2),
    win AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 7),
          i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::bigint
        )) AS whash
      FROM toks WHERE len(t) >= 8
    ),
    shared AS (
      SELECT whash FROM (SELECT DISTINCT doc_id, whash FROM win)
      GROUP BY whash HAVING count(*) > 1
    ),
    per_doc AS (SELECT doc_id, count(*)::bigint AS n_windows FROM win GROUP BY doc_id),
    dup AS (
      SELECT doc_id, count(*)::bigint AS n_dup_windows
      FROM win WHERE whash IN (SELECT whash FROM shared) GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_windows,
           coalesce(d.n_dup_windows, 0)::bigint AS n_dup_windows,
           round(coalesce(d.n_dup_windows, 0) / p.n_windows, 6) AS dup_fraction,
           (round(coalesce(d.n_dup_windows, 0) / p.n_windows, 6) >= 0.3) AS flagged
    FROM per_doc p LEFT JOIN dup d ON p.doc_id = d.doc_id
    """,
    "exact-substring dedup, hashed flavor (Lee et al. 2021): every "
    "8-token sliding window hashed; a window occurring in >1 doc is "
    "duplicated text; per-doc duplicated-window fraction drives the "
    "filter. Planted half-copies are ground truth. One explode + one "
    "equi-join on the 8-byte hash — the shuffle-once layout that "
    "replaces the paper's suffix array at warehouse scale.",
)
def q145_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens as _toks
    from .operators import semdedup as sd

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    tk = _toks(F.col("text"))
    half = F.greatest(F.floor(F.size(tk) / 2).cast("int"), F.lit(8))
    planted = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(tk, 1, half)),
            F.lit(" "),
            F.repeat(
                F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit(" ")), 7
            ),
        ).alias("text"),
    )
    return sd.passage_dup_stats(
        docs.unionByName(planted), w=8, flag_threshold=0.3
    )


@spec(
    "q146_dedup_survivors",
    f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra appended duplicate marker tail'
      FROM documents WHERE doc_id < 30
    ),
    toks AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS t FROM corpus),
    grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
             i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks WHERE len(t) >= 3
    ),
    fp AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::bigint AS fp
      FROM grams
    ),
    fps AS (SELECT doc_id, fp FROM fp WHERE fp % 4 = 0),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
    ff AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM rare)),
    pairs AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM ff x JOIN ff y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    und AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.node
    ),
    cc AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node),
    members AS (
      SELECT cc.cluster, cc.node, length(c.text) AS n_chars
      FROM cc JOIN corpus c ON c.doc_id = cc.node
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster ORDER BY n_chars DESC, node) AS rn
      FROM members
    )
    SELECT cluster, min(CASE WHEN rn = 1 THEN node END) AS survivor_doc,
           count(*)::bigint AS n_members, (count(*) - 1)::bigint AS n_removed
    FROM ranked GROUP BY cluster
    """,
    "survivor selection after near-dup detection: fingerprint-overlap "
    "edges (sampled token 3-gram hashes with a stop-gram df ceiling, "
    ">=3 shared) -> connected components -> keep the longest member "
    "(ties to lowest id) per duplicate group — the decision step every "
    "dedup pipeline needs after q20-q25/q102 find the pairs.",
)
def q146_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import semdedup as sd

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" extra appended duplicate marker tail")
            ).alias("text"),
        )
    )
    edges = sd.fingerprint_overlap_edges(
        corpus, k=3, p=4, min_shared=3, max_df=50
    )
    return sd.survivor_selection(corpus, edges)


@spec(
    "q147_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest({SQL_TOKS.format(x='text')}) AS token
      FROM documents
    ),
    bt AS (
      SELECT doc_id, is_t,
             ('0x' || substr(md5(token), 1, 15))::bigint % 512 AS bucket
      FROM toks
    ),
    counts AS (
      SELECT bucket, count(*) AS n_raw,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_tgt
      FROM bt GROUP BY bucket
    ),
    tot AS (SELECT sum(n_raw) AS tr, sum(n_tgt) AS tt FROM counts),
    ratios AS (
      SELECT bucket,
             round((ln((n_tgt + 1) / (tt + 512)) - ln((n_raw + 1) / (tr + 512)))
                   * 1000000)::bigint AS lr
      FROM counts, tot
    )
    SELECT doc_id, count(*)::bigint AS n_toks, sum(lr)::bigint AS weight_micro
    FROM bt JOIN ratios USING (bucket) GROUP BY doc_id
    """,
    "DSIR importance weights (Xie et al. 2023): hashed unigram bucket "
    "distributions for target (lang='en') vs raw corpus; per-doc weight "
    "= sum of integer-scaled log-likelihood ratios (micro units — exact "
    "cross-engine sums, the PageRank trick). Bucket tables broadcast; "
    "one corpus scan, no self-join.",
)
def q147_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.dsir_weights(
        t.documents, F.col("lang") == "en", buckets=512
    )


@spec(
    "q155_curation_pipeline",
    None,  # assembled by _computed_oracles: cleaned-corpus CTE shadows
    # the documents view, then q104's oracle runs verbatim on top
    "composed curation pipeline: mojibake repair → intra-doc paragraph "
    "dedup → quality gates, one narrow column-algebra chain feeding the "
    "gate scan (planted corruption + repeated paragraphs are the "
    "ground truth). The oracle REUSES q104's SQL verbatim over a "
    "cleaned-documents CTE — stage composition can't drift from the "
    "stages it composes.",
)
def q155_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import repair_mojibake
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    art = "á".encode("utf-8").decode("latin-1")
    corrupt = F.replace(
        F.replace(F.col("text"), F.lit("ma"), F.lit("má")),
        F.lit("á"),
        F.lit(art),
    )
    dirty = t.documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(corrupt, F.lit("\n"), corrupt),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    repaired = dirty.select(
        "doc_id", repair_mojibake(F.col("text")).alias("text")
    )
    cleaned = dedup.dedup_paragraphs(repaired).select("doc_id", "text")
    labeled = traindata.quality_gates(cleaned)
    return labeled.groupBy("verdict").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )


@spec(
    "q154_paragraph_dedup",
    """
    WITH docs2 AS (
      SELECT doc_id,
             text || chr(10) || substr(text, 1, 40) || chr(10) || text
             || chr(10) || substr(text, 1, 40) AS text
      FROM documents
    ),
    segs AS (SELECT doc_id, string_split(text, chr(10)) AS s FROM docs2),
    kept AS (
      SELECT doc_id, s,
             list_filter(s, (x, i) -> length(x) < 1 OR list_position(s, x) = i)
               AS k
      FROM segs
    )
    SELECT doc_id, array_to_string(k, chr(10)) AS text,
           len(s) AS n_paras, (len(s) - len(k)) AS n_removed
    FROM kept
    """,
    "intra-document repetition removal: first occurrence of each "
    "repeated paragraph survives, shorter-than-min always survives — "
    "split + array_position first-occurrence filter + re-join, pure "
    "narrow column algebra with ZERO shuffles (drop_boilerplate_lines "
    "is the cross-doc twin); planted full-text and prefix repeats are "
    "the ground truth",
)
def q154_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    planted = t.documents.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.substring("text", 1, 40),
            F.col("text"),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    return dedup.dedup_paragraphs(planted)


@spec(
    "q153_semantic_decontamination",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::double[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000001, list_transform(embedding::double[], x -> x * 1.003)
      FROM embeddings WHERE vec_id % 25 = 3
    ),
    bench AS (SELECT vec_id AS bid, v AS bv FROM base WHERE vec_id % 25 = 3),
    corpus AS (SELECT vec_id, v AS cv FROM base WHERE vec_id % 25 <> 3)
    SELECT vec_id,
           round(max({SQL_COS.format(a='cv', b='bv')}), 6) AS max_bench_cos,
           (max({SQL_COS.format(a='cv', b='bv')}) >= 0.999) AS contaminated
    FROM corpus, bench GROUP BY vec_id
    """,
    "embedding-tier decontamination (the paraphrase-robust complement "
    "of q94's 8-gram tier): flag corpus vectors with cosine >= tau to "
    "any benchmark vector; planted scaled copies of the benchmark rows "
    "are the contamination ground truth. Benchmark side broadcasts — "
    "one corpus scan, exact, no ANN recall caveat.",
)
def q153_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    planted = t.embeddings.select("vec_id", "embedding").unionByName(
        t.embeddings.filter(F.col("vec_id") % 25 == 3).select(
            (F.col("vec_id") + 1000001).alias("vec_id"),
            F.transform("embedding", lambda x: x * 1.003).alias("embedding"),
        )
    )
    return traindata.semantic_decontaminate(
        planted, F.col("vec_id") % 25 == 3, tau=0.999
    )


@spec(
    "q152_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS.format(x='text')}) AS token FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks),
    counted AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY token)
    SELECT token, n, ceil(0.002 * n_total)::bigint AS threshold
    FROM counted, tot WHERE n >= ceil(0.002 * n_total)
    """,
    "exact phi-heavy hitters, sketch-accelerated: per-partition "
    "Misra-Gries (k=1/phi counters, mapInPandas) yields a guaranteed "
    "candidate SUPERSET (pigeonhole over partitions), then an exact "
    "recount of candidates only — output identical to the full groupBy "
    "the oracle runs, but the full-vocabulary shuffle never happens",
)
def q152_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.heavy_hitters(t.documents, phi=0.002)


@spec(
    "q148_shard_assign",
    f"""
    WITH assigned AS (
      SELECT doc_id, text,
             ('0x' || substr(md5('shard#' || doc_id::varchar), 1, 15))::bigint
               AS pos
      FROM documents
    )
    SELECT (pos % 16)::int AS shard, count(*)::bigint AS n_docs,
           sum(len({SQL_TOKS.format(x='text')}))::bigint AS n_tokens
    FROM assigned GROUP BY 1
    """,
    "deterministic global shuffle + sharding for training output: "
    "position = portable hash of (salt, id), shard = pos mod n — a full "
    "reproducible permutation with zero RNG state and zero shuffle to "
    "assign (one repartition to lay out); per-shard balance report",
)
def q148_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.shard_stats(t.documents, n_shards=16)


@spec(
    "q149_length_quantiles",
    """
    SELECT lang, count(*)::bigint AS n_docs,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 6) AS p99_chars
    FROM documents GROUP BY lang
    """,
    "corpus health summary: exact interpolated length percentiles per "
    "language (Spark percentile == DuckDB quantile_cont, verified "
    "identical interpolation) — the distribution check before setting "
    "chunking budgets / quality-gate thresholds; at 100 TB swap in "
    "approx_percentile (t-digest) the same way vocabulary_size swaps "
    "exact distinct for HLL",
)
def q149_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return t.documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99_chars"),
    )


@spec(
    "q150_mojibake_repair",
    None,  # filled by _computed_oracles from the shared mojibake catalog
    "encoding-artifact repair (ftfy's top fixes): UTF-8-seen-through-"
    "cp1252 sequences detected and repaired via a generated catalog; "
    "one emitter writes the Spark replace chain, the DuckDB SQL and the "
    "Python twin (Porter pattern). Planted corruption (accented copies "
    "re-decoded the faulty way) is ground truth; repaired text is "
    "compared by sha256. Pure JVM column ops, one scan.",
)
def q150_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import mojibake_count, repair_mojibake

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select("doc_id", "text")
    # plant: accent a vowel pattern, then corrupt it the faulty-decode way
    accented = F.replace(
        F.col("text"), F.lit("ma"), F.concat(F.lit("m"), F.lit("á"))
    )
    corrupted = F.replace(
        accented,
        F.lit("á"),
        F.lit("á".encode("utf-8").decode("latin-1")),
    )
    planted = docs.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), corrupted.alias("text")
    )
    corpus = docs.unionByName(planted)
    return corpus.select(
        "doc_id",
        mojibake_count(F.col("text")).alias("n_artifacts"),
        F.length("text").alias("len_before"),
        F.length(repair_mojibake(F.col("text"))).alias("len_after"),
        F.sha2(repair_mojibake(F.col("text")), 256).alias("repaired_sha"),
    )


@spec(
    "q156_budget_select",
    f"""
    WITH scored AS (
      SELECT doc_id, len(toks)::bigint AS n_toks,
             (len(list_distinct(toks)) * 1000 // len(toks))::bigint AS score_q
      FROM (SELECT doc_id, {SQL_TOKS.format(x='text')} AS toks FROM documents)
      WHERE len(toks) > 0
    ),
    cum AS (
      SELECT *, sum(n_toks) OVER (ORDER BY score_q DESC, doc_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS run
      FROM scored
    )
    SELECT doc_id, n_toks, score_q FROM cum WHERE run <= 12000
    """,
    "corpus selection under a global token budget ('we can afford N "
    "training tokens'): longest (quality desc, id) prefix with running "
    "token total <= budget. Quality = distinct*1000 div tokens (integer "
    "division — bit-exact cross-engine). The oracle pays a global "
    "cumulative window; the engine does NOT: a <=1001-row score "
    "histogram (one scan, map-side combine) gives the driver the "
    "boundary score, full buckets pass as a filter, and only the "
    "boundary bucket (~1/1000 of the corpus, set by score resolution) "
    "pays a partitioned window for the remainder — no global sort at "
    "100 TB.",
)
def q156_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.budget_select(t.documents, token_budget=12000)


@spec(
    "q157_stratified_sample",
    """
    WITH h AS (
      SELECT doc_id, lang, source, n_chars,
             ('0x' || substr(md5(doc_id::varchar || '#strat'), 1, 15))::bigint
               AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
               AS rk
      FROM h
    )
    SELECT doc_id, lang, source, n_chars FROM r WHERE rk <= 20
    """,
    "deterministic stratified sampling: exactly k docs per stratum in "
    "portable-hash order (ties to id) — eval-set and review draws that "
    "reproduce across runs/engines/cluster sizes with zero RNG state. "
    "One shuffle by stratum, per-stratum window rank; hot strata can "
    "pre-thin with a hash threshold before ranking.",
)
def q157_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.stratified_sample(
        t.documents.select("doc_id", "lang", "source", "n_chars"), k=20
    )


_H = "('0x' || substr(md5({x}), 1, 15))::bigint"  # SQL twin of hash64

_Q158_SQL = f"""
    WITH t AS (SELECT doc_id, lang, lang = 'en' AS ref,
                      {SQL_TOKS.format(x='text')} AS toks
               FROM documents),
    b AS (SELECT doc_id, lang, ref,
                 toks[i] || ' ' || toks[i+1] AS bg,
                 toks[i+1] AS w2
          FROM (SELECT doc_id, lang, ref, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM t)),
    bh AS (SELECT doc_id, lang, bg, ref,
                  {_H.format(x='bg')} AS bh,
                  {_H.format(x='w2')} AS wh
           FROM b),
    c2 AS (SELECT bg, count(*) AS c2 FROM b WHERE ref GROUP BY bg),
    ctx AS (SELECT string_split(bg, ' ')[1] AS prev, sum(c2) AS c1ctx
            FROM c2 GROUP BY 1),
    bgm AS (SELECT {_H.format(x='c2.bg')} AS bh,
                   round(ln(c2 / c1ctx) * 1000000)::bigint AS lp2
            FROM c2 JOIN ctx ON string_split(c2.bg, ' ')[1] = ctx.prev),
    c1 AS (SELECT w2 AS w, count(*) AS c1 FROM b WHERE ref GROUP BY w2),
    tot AS (SELECT sum(c1) AS T, count(*) AS V FROM c1),
    ugm AS (SELECT {_H.format(x='w')} AS wh,
                   round((ln(0.4) + ln((c1 + 1) / (T + V))) * 1000000)::bigint
                     AS lp1
            FROM c1, tot),
    scored AS (
      SELECT bh.doc_id, bh.lang, count(*)::bigint AS n_big,
             sum(coalesce(lp2, lp1,
                 round((ln(0.4) - ln(T + V)) * 1000000)::bigint))::bigint
               AS lp_sum_micro
      FROM bh LEFT JOIN bgm USING (bh) LEFT JOIN ugm USING (wh)
      CROSS JOIN tot
      GROUP BY bh.doc_id, bh.lang)
    SELECT doc_id, lang, n_big, lp_sum_micro,
           round(lp_sum_micro / n_big / 1000000, 6) AS avg_lp,
           CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY lp_sum_micro / n_big DESC,
                                             doc_id) AS rk,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM scored)
"""


@spec(
    "q158_lm_perplexity",
    _Q158_SQL,
    "CCNet-style perplexity filtering (Wenzek et al., arXiv:1911.00359): "
    "token-bigram stupid-backoff LM (Brants et al. 2007) trained on the "
    "in-domain split (lang='en'), every doc scored by mean log-prob in "
    "integer micro-nats, per-language head/middle/tail terciles — the "
    "classic pretraining quality signal. Model tables are data-bounded "
    "groupBys; scoring is one equi-join on portable 60-bit gram hashes "
    "collapsing into per-doc sums; terciles are per-language windows, "
    "no global sort. The mean is one IEEE division of two exact longs, "
    "so ordering and display round identically cross-engine.",
)
def q158_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.lm_perplexity(
        t.documents, F.col("lang") == "en", group_col="lang"
    )


@spec(
    "q159_mixture_weights",
    f"""
    WITH per AS (SELECT lang AS stratum, count(*)::bigint AS n_docs,
                        sum(len({SQL_TOKS.format(x='text')}))::bigint
                          AS n_toks
                 FROM documents GROUP BY lang),
    tot AS (SELECT sum(n_toks)::bigint AS t FROM per),
    raw AS (SELECT per.*,
                   round(sqrt(n_toks / t) * 1000000000)::bigint AS w
            FROM per, tot),
    wt AS (SELECT sum(w)::bigint AS wtot FROM raw)
    SELECT stratum, n_docs, n_toks,
           (n_toks * 1000000 // t)::bigint AS share_ppm,
           (w * 1000000 // wtot)::bigint AS weight_ppm,
           ((w * 1000000 // wtot) * 50000 // 1000000)::bigint
             AS tokens_drawn,
           (((w * 1000000 // wtot) * 50000 // 1000000) * 1000000
            // n_toks)::bigint AS epochs_micro
    FROM raw, tot, wt
    """,
    "temperature-scaled domain-mixture weights (alpha-sampling, the "
    "GPT-3/XLM-R/LLaMA data recipe): per-language sampling share "
    "proportional to p^0.5 — alpha fixed at 0.5 so the power is sqrt, "
    "the one libm call IEEE requires correctly rounded (pow is not "
    "cross-engine safe). One scan to n_domains rows; every derived "
    "quantity is integer micro-unit arithmetic over exact longs — "
    "share, normalized weight, tokens drawn at a 50k budget, and the "
    "per-domain epoch factor (how often a domain's data repeats).",
)
def q159_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.mixture_weights(
        t.documents, token_budget=50000, stratum_col="lang"
    )


def _pii_plant_sql() -> str:
    return """
      SELECT doc_id, text
        || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || doc_id::varchar || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' ssn 123-45-' || lpad((doc_id % 10000)::varchar, 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 3 = 0
                THEN ' call 555-' || lpad((doc_id % 1000)::varchar, 3, '0')
                     || '-' || lpad((doc_id % 10000)::varchar, 4, '0')
                ELSE '' END
        AS t2
      FROM documents
    """


def _q160_oracle() -> str:
    from .functions.extract import EMAIL_RE, PHONE_RE, SSN_RE, sql_mask_pii

    return f"""
    WITH p AS ({_pii_plant_sql()})
    SELECT doc_id,
           len(regexp_extract_all(t2, '{EMAIL_RE}'))::bigint AS n_emails,
           len(regexp_extract_all(t2, '{SSN_RE}'))::bigint AS n_ssns,
           len(regexp_extract_all(t2, '{PHONE_RE}'))::bigint AS n_phones,
           CASE WHEN len(regexp_extract_all(t2, '{EMAIL_RE}'))
                     + len(regexp_extract_all(t2, '{SSN_RE}'))
                     + len(regexp_extract_all(t2, '{PHONE_RE}')) > 0
                THEN 1 ELSE 0 END AS has_pii,
           sha256({sql_mask_pii('t2')}) AS masked_sha
    FROM p
    """


@spec(
    "q160_pii_incidence",
    None,  # assembled by _computed_oracles from the shared regex catalog
    "corpus-wide PII incidence report — the compliance scan a training "
    "pipeline runs before release: per-document email/SSN/phone match "
    "counts (src/pii.rs:30-71 regex catalog, planted deterministically "
    "so every kind is exercised), a has_pii flag, and the sha256 of the "
    "masked text proving the redaction path at corpus scale. One scan, "
    "pure regexp column algebra, no shuffle at all.",
)
def q160_pii_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.extract import EMAIL_RE, PHONE_RE, SSN_RE, mask_pii

    t = catalog.load(spark, sf_dir)
    did = F.col("doc_id")
    t2 = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"),
                     F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ssn 123-45-"),
                     F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" call 555-"),
                     F.lpad((did % 1000).cast("string"), 3, "0"),
                     F.lit("-"),
                     F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    planted = t.documents.select("doc_id", t2.alias("t2"))
    n_em = F.size(F.regexp_extract_all("t2", F.lit(EMAIL_RE), F.lit(0)))
    n_ssn = F.size(F.regexp_extract_all("t2", F.lit(SSN_RE), F.lit(0)))
    n_ph = F.size(F.regexp_extract_all("t2", F.lit(PHONE_RE), F.lit(0)))
    return planted.select(
        "doc_id",
        n_em.cast("long").alias("n_emails"),
        n_ssn.cast("long").alias("n_ssns"),
        n_ph.cast("long").alias("n_phones"),
        F.when(n_em + n_ssn + n_ph > 0, 1).otherwise(0).alias("has_pii"),
        F.sha2(mask_pii(F.col("t2")), 256).alias("masked_sha"),
    )


def _q161_sql() -> str:
    from .operators.traindata import (
        GATE_MAX_TOKENS,
        GATE_MIN_TOKENS,
        NB_BUCKETS,
        NB_SPLIT_SALT,
    )

    return f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
               FROM main.documents),
    lab AS (SELECT doc_id, ts,
              CASE WHEN len(ts) >= {GATE_MIN_TOKENS}
                    AND len(ts) <= {GATE_MAX_TOKENS}
                    AND len(list_filter(ts,
                          x -> list_contains({_GATE_STOP_SQL}, x))) > 0
                   THEN 1 ELSE 0 END AS label,
              CASE WHEN {_H.format(
                  x="doc_id::varchar || '#" + NB_SPLIT_SALT + "'")} % 100
                   < 80
                   THEN 'train' ELSE 'eval' END AS split
            FROM t),
    feats AS (
      SELECT doc_id, label, split,
             unnest(list_transform(ts, x -> 'u#' || x)) AS feat
      FROM lab
      UNION ALL
      SELECT doc_id, label, split,
             'b#' || ts[i] || ' ' || ts[i+1] AS feat
      FROM (SELECT doc_id, label, split, ts,
                   unnest(generate_series(1, len(ts) - 1)) AS i
            FROM lab)),
    fb AS (SELECT doc_id, label, split,
                  {_H.format(x='feat')} % {NB_BUCKETS} AS bucket
           FROM feats),
    counts AS (SELECT bucket,
                      sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c_pos,
                      sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c_neg
               FROM fb WHERE split = 'train' GROUP BY bucket),
    ft AS (SELECT sum(c_pos) AS tp, sum(c_neg) AS tn FROM counts),
    llr AS (SELECT bucket,
                   round((ln((c_pos + 1) / (tp + {NB_BUCKETS}))
                          - ln((c_neg + 1) / (tn + {NB_BUCKETS})))
                         * 1000000)::bigint AS llr_micro
            FROM counts, ft),
    prior AS (SELECT sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS np,
                     sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS nn
              FROM (SELECT DISTINCT doc_id, label, split FROM fb)
              WHERE split = 'train'),
    sc AS (SELECT doc_id, split, label, count(*)::bigint AS n_feats,
                  sum(coalesce(llr_micro,
                      round((ln(1.0 / (tp + {NB_BUCKETS}))
                             - ln(1.0 / (tn + {NB_BUCKETS})))
                            * 1000000)::bigint))::bigint AS ev
           FROM fb LEFT JOIN llr USING (bucket) CROSS JOIN ft
           GROUP BY doc_id, split, label)
    SELECT doc_id, split, label, n_feats,
           (ev + round((ln((np + 1) / (np + nn + 2))
                        - ln((nn + 1) / (np + nn + 2)))
                       * 1000000)::bigint)::bigint AS score_micro,
           CASE WHEN (ev + round((ln((np + 1) / (np + nn + 2))
                                  - ln((nn + 1) / (np + nn + 2)))
                                 * 1000000)::bigint) > 0
                THEN 1 ELSE 0 END AS pred
    FROM sc, prior
    """


@spec(
    "q161_quality_classifier",
    None,  # assembled by _computed_oracles from shared gate/hash constants
    "in-engine quality classifier — the fastText-style filter of the "
    "GPT-3/LLaMA pipelines as multinomial Naive Bayes over hashed "
    "unigram+bigram features: weak labels from the q104 quality gates "
    "(weak supervision), a deterministic 80/20 hash split, closed-form "
    "training (add-1 LLR per bucket in integer micro-nats + class-prior "
    "logit), corpus-wide scoring. NB, unlike SGD models, is exact "
    "relational algebra — the full train+score pipeline replays in SQL. "
    "Model is <=1024 rows (broadcast); one scan to featurize, one "
    "map-side-combined groupBy to train, one broadcast join to score.",
)
def q161_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    return traindata.nb_quality_classifier(t.documents)


@spec(
    "q162_classifier_eval",
    None,  # assembled by _computed_oracles: wraps q161's SQL as a CTE
    "held-out evaluation of the q161 classifier: confusion matrix on "
    "the eval split (label x pred counts) — the acceptance gate before "
    "a quality filter is trusted over a whole corpus. Reuses the "
    "classifier pipeline verbatim (the q155 oracle-composition "
    "pattern), then a 4-row aggregate.",
)
def q162_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import traindata

    t = catalog.load(spark, sf_dir)
    scored = traindata.nb_quality_classifier(t.documents)
    return (
        scored.filter(F.col("split") == "eval")
        .groupBy("label", "pred")
        .agg(F.count("*").alias("n"))
    )


@spec(
    "q163_flac_roundtrip",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 400 + 200)::int AS n,
             (doc_id % 2 + 1)::int AS ch
      FROM documents WHERE doc_id % 10 = 4),
    smp AS (
      SELECT s.doc_id, s.n, s.ch, i.i AS i, c.c AS c,
             CASE WHEN s.doc_id % 3 = 0
                  THEN (s.doc_id * 7919 + i.i * 104729 + c.c * 31) % 512
                       - 256
                  ELSE (s.doc_id * 7919 + i.i * 104729 + c.c * 31) % 65536
                       - 32768
             END AS v
      FROM sel s
      JOIN generate_series(0, 599) i(i) ON i.i < s.n
      JOIN generate_series(0, 1)  c(c) ON c.c < s.ch)
    SELECT doc_id AS media_id, n::bigint AS n_samples, ch AS channels,
           sum(v)::bigint AS s_sum, min(v)::int AS s_min,
           max(v)::int AS s_max,
           sum((i + 1) * (c + 1) * v)::bigint AS osum
    FROM smp GROUP BY doc_id, n, ch
    """,
    "lossless compressed-audio tier: each doc's deterministic formula "
    "waveform is encoded to a REAL FLAC stream (sources/flac.py — "
    "fixed+LPC prediction, rice residuals, stereo decorrelation cycling "
    "through all four channel assignments, STREAMINFO MD5) and decoded "
    "back with CRC+MD5 verification before integer waveform stats; the "
    "kernel raises on any sample mismatch, so a hash match proves "
    "encode→decode identity over the corpus. The oracle computes the "
    "same stats in closed form; osum is position-and-channel-weighted "
    "so reordering or interleave bugs break the hash. Scale: fan_out + "
    "mapInPandas per Arrow batch; payloads never shuffle (the q124/q128 "
    "codec-kernel shape). Multimodal audio per src/whisper.rs:49-116, "
    "src/types/metadata.rs.",
)
def q163_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 4).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from .sources.flac import flac_decode, flac_encode

        modes = ["independent", "left_side", "right_side", "mid_side"]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n, ch = mid % 400 + 200, mid % 2 + 1
                i, c = np.meshgrid(
                    np.arange(n), np.arange(ch), indexing="ij"
                )
                raw = mid * 7919 + i * 104729 + c * 31
                v = (
                    raw % 512 - 256 if mid % 3 == 0
                    else raw % 65536 - 32768
                )
                chans = [v[:, k].tolist() for k in range(ch)]
                enc = flac_encode(
                    chans, 16000, bps=16, block_size=256,
                    stereo_mode=modes[mid % 4] if ch == 2 else "auto",
                )
                dec = flac_decode(enc, verify_md5=True)
                if [list(x) for x in dec.channels] != chans:
                    raise ValueError(f"FLAC round-trip mismatch doc {mid}")
                arr = np.array(dec.channels)  # (ch, n)
                w = (np.arange(n) + 1)[None, :] * (np.arange(ch) + 1)[:, None]
                rows.append((
                    mid, n, ch, int(arr.sum()), int(arr.min()),
                    int(arr.max()), int((w * arr).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "channels", "s_sum",
                         "s_min", "s_max", "osum"],
            )

    return fan_out(sel).mapInPandas(
        gen,
        "media_id long, n_samples long, channels int, s_sum long, "
        "s_min int, s_max int, osum long",
    )


@spec(
    "q164_funnel",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, min(us) AS t_view_us
          FROM e WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(us) AS t_click_us
          FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > t_view_us
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(us) AS t_purchase_us
          FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > t_click_us
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view_us, c.t_click_us, p.t_purchase_us,
           (1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)::int
             AS steps_done
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    "ordered conversion funnel (view -> click -> purchase): earliest "
    "completion of each step strictly after the previous step, per "
    "user — the sequential-constraint query a naive min-per-type gets "
    "wrong (a click BEFORE the first view must not count). One "
    "filtered aggregation per step, everything keyed on user_id so the "
    "exchanges co-partition; no full-stream window, no per-key event "
    "collection.",
)
def q164_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return asof.funnel_steps(t.events, ["view", "click", "purchase"])


@spec(
    "q165_salted_join",
    """
    SELECT s.s_name, count(*)::bigint AS n_items,
           sum(l_quantity::bigint)::bigint AS qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    "skew-mitigated equi-join (operators/skew.py salted_join): the big "
    "side's keys scatter over (key, salt) with a deterministic crc32 "
    "salt and the dimension replicates n_salts times, so a hot key "
    "spreads across n_salts reducers instead of melting one — the "
    "explicit, planner-independent form of AQE's skew-join split for "
    "when the dimension is too big to broadcast. The salt never "
    "escapes: the oracle is the PLAIN join + aggregate, proving the "
    "joined multiset is identical. Quantities summed as exact longs.",
)
def q165_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_join

    t = catalog.load(spark, sf_dir)
    joined = salted_join(
        t.lineitem.withColumnRenamed("l_suppkey", "s_suppkey"),
        t.supplier.select("s_suppkey", "s_name"),
        on="s_suppkey",
        salt_expr=F.col("l_orderkey"),
        n_salts=8,
    )
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )


@spec(
    "q166_tiff_pixels",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 16 + 4)::int AS w, (doc_id % 14 + 3)::int AS h,
             (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END)::int
               AS ch
      FROM documents WHERE doc_id % 10 = 6),
    px AS (
      SELECT s.doc_id, s.w, s.h, s.ch, x.x, y.y, c.c,
             (s.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 5) % 256 AS v
      FROM sel s
      JOIN generate_series(0, 19) x(x) ON x.x < s.w
      JOIN generate_series(0, 16) y(y) ON y.y < s.h
      JOIN generate_series(0, 3)  c(c) ON c.c < s.ch)
    SELECT doc_id AS media_id, w, h, ch,
           sum(v)::bigint AS px_sum, min(v)::int AS px_min,
           max(v)::int AS px_max,
           sum((x + 1) * (y + 1) * (c + 1) * v)::bigint AS wsum
    FROM px GROUP BY doc_id, w, h, ch
    """,
    "TIFF raster tier: per doc a deterministic formula image is encoded "
    "to a REAL TIFF (sources/tiff.py) cycling byte order (II/MM), "
    "compression (none / TIFF-LZW with the early code-width change / "
    "PackBits) and the LZW horizontal-differencing predictor, then "
    "decoded back; the kernel raises on any pixel mismatch, so a hash "
    "match proves the whole encode matrix round-trips over the corpus. "
    "The oracle recomputes the pixel stats in closed form; wsum is "
    "position-and-channel weighted so layout/strip/predictor bugs break "
    "the hash. fan_out + mapInPandas, payloads never shuffle.",
)
def q166_tiff_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 6).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from .sources.tiff import tiff_decode, tiff_encode

        comps = ["none", "lzw", "packbits"]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 16 + 4, mid % 14 + 3
                ch = {0: 1, 1: 3, 2: 4}[mid % 3]
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
                )
                v = ((mid * 31 + x * 7 + y * 13 + c * 5) % 256).astype(
                    np.uint8
                )
                enc = tiff_encode(
                    v,
                    byte_order="II" if mid % 2 else "MM",
                    compression=comps[(mid // 3) % 3],
                    rows_per_strip=5,
                    predictor=(mid % 5 == 0),
                )
                dec = tiff_decode(enc)
                if not (dec == v).all():
                    raise ValueError(f"TIFF round-trip mismatch doc {mid}")
                a = dec.astype(np.int64)
                wgt = (y + 1) * (x + 1) * (c + 1)
                rows.append((
                    mid, w, h, ch, int(a.sum()), int(a.min()),
                    int(a.max()), int((wgt * a).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "w", "h", "ch", "px_sum", "px_min",
                         "px_max", "wsum"],
            )

    return fan_out(sel).mapInPandas(
        gen,
        "media_id long, w int, h int, ch int, px_sum long, px_min int, "
        "px_max int, wsum long",
    )


@spec(
    "q167_compaction_plan",
    """
    WITH files AS (
      SELECT l_returnflag || l_linestatus AS part_key,
             l_orderkey % 50 AS file_id,
             sum(l_quantity::bigint * 997)::bigint AS bytes
      FROM lineitem GROUP BY 1, 2),
    binned AS (
      SELECT part_key, file_id, bytes,
             floor((sum(bytes) OVER (PARTITION BY part_key
                                     ORDER BY file_id
                                     ROWS UNBOUNDED PRECEDING) - bytes)
                   / 400000)::bigint AS bin
      FROM files)
    SELECT part_key, file_id, bytes, bin,
           count(*) OVER (PARTITION BY part_key, bin)::bigint AS bin_files,
           sum(bytes) OVER (PARTITION BY part_key, bin)::bigint AS bin_bytes
    FROM binned
    """,
    "small-file compaction planning (the Delta/Iceberg OPTIMIZE "
    "bin-pack, completing the vacuum + Z-order maintenance triad): "
    "files pack first-fit by exclusive-prefix-sum div target within "
    "each partition — pure per-partition window algebra, because at "
    "warehouse scale the file listing is itself a big table and a "
    "driver-side greedy loop over it is the anti-pattern. A bin may "
    "overshoot by at most one file (standard streaming-pack bound). "
    "floor() on both engines: a bare double->bigint cast truncates in "
    "Spark but rounds in DuckDB.",
)
def q167_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.versioning import compaction_plan

    t = catalog.load(spark, sf_dir)
    files = t.lineitem.groupBy(
        F.concat("l_returnflag", "l_linestatus").alias("part_key"),
        (F.col("l_orderkey") % 50).alias("file_id"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long") * 997).alias("bytes")
    )
    return compaction_plan(files, target_bytes=400000)


@spec(
    "q168_sq8_knn",
    """
    WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
    dims AS (
      SELECT i.i AS dim, min(v[i.i]) AS mn,
             greatest((max(v[i.i]) - min(v[i.i])) / 255.0, 1e-12) AS s
      FROM e, generate_series(1, 64) i(i) GROUP BY i.i),
    model AS (SELECT list(mn ORDER BY dim) AS mins,
                     list(s ORDER BY dim) AS ss
              FROM dims),
    codes AS (
      SELECT vec_id,
             list_transform(generate_series(1, 64), d ->
               least(greatest(round((v[d] - mins[d]) / ss[d])::int, 0),
                     255)) AS code
      FROM e, model),
    q AS (SELECT code AS qcode FROM codes WHERE vec_id = 3),
    scored AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, 64), d ->
               (code[d] - qcode[d]) * (code[d] - qcode[d])))::bigint
               AS dist2
      FROM codes, q WHERE vec_id <> 3)
    SELECT vec_id, dist2,
           row_number() OVER (ORDER BY dist2, vec_id) AS rank
    FROM scored ORDER BY dist2, vec_id LIMIT 20
    """,
    "SQ8 scalar quantization — the FAISS SQ8 tier between raw float32 "
    "and PQ's 16x codes: per-dimension affine uint8 codes (4x smaller "
    "at rest and in shuffle), trained by a closed-form per-dim min/max "
    "— which, unlike k-means codebooks, an independent SQL engine can "
    "replay, so this quantization tier is FULLY oracle-checked (q34/"
    "q35 are rows-only by necessity). The scan uses symmetric integer "
    "code-space distance (exact cross-engine, no float summation); the "
    "asymmetric float scan + recall-vs-exact bound live in "
    "operators/pq.py sq8_topk/sq8_recall and tests. Scale: stats are "
    "one map-side-combined 64-group aggregate; encode and scan are "
    "pure JVM column algebra, model broadcast as literals.",
)
def q168_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = 64
    stats = (
        e.select(F.posexplode("v").alias("p", "x"))
        .groupBy("p")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mins = [0.0] * dim
    scales = [1e-12] * dim
    for r in stats:
        mins[r.p] = float(r.mn)
        scales[r.p] = max((float(r.mx) - float(r.mn)) / 255.0, 1e-12)
    mins_c = F.array(*[F.lit(m) for m in mins])
    ss_c = F.array(*[F.lit(s) for s in scales])
    code = F.transform(
        F.col("v"),
        lambda x, i: F.least(
            F.greatest(
                F.round(
                    (x - F.element_at(mins_c, i + 1))
                    / F.element_at(ss_c, i + 1)
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(255),
        ),
    )
    codes = e.select("vec_id", code.alias("code"))
    qcode = codes.filter(F.col("vec_id") == 3).head().code
    q_c = F.array(*[F.lit(int(c)) for c in qcode])
    dist2 = F.aggregate(
        F.zip_with(
            F.col("code"), q_c,
            lambda a, b: ((a - b) * (a - b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.filter(F.col("vec_id") != 3)
        .select("vec_id", dist2.alias("dist2"))
        .orderBy(F.asc("dist2"), F.asc("vec_id"))
        .limit(20)
    )
    return scored.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.asc("dist2"), F.asc("vec_id"))
        ),
    )


@spec(
    "q169_late_interaction",
    None,  # assembled by _computed_oracles from the shared SQL_COS twin
    "late-interaction (ColBERT MaxSim) retrieval over multi-vector "
    "documents: chunks grouped 4-per-doc (the put_with_chunk_embeddings "
    "surface, mutation.rs:3100-3148), three query vectors, score = "
    "sum over queries of the best-chunk cosine — in integer micro-units "
    "so the doc score is exact cross-engine. Query side broadcast, one "
    "chunk-table scan, two map-side-combinable aggregations, top-k; no "
    "corpus window, no self-join.",
)
def q169_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import late_interaction_topk

    t = catalog.load(spark, sf_dir)
    chunks = t.embeddings.select(
        F.expr("vec_id div 4").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    qvs = t.embeddings.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    return late_interaction_topk(chunks, qvs, k=20)


@spec(
    "q170_bm25f",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
               FROM documents),
    f AS (SELECT doc_id, ts[1:4] AS title, ts[5:] AS body,
                 len(ts) AS n FROM t),
    tp AS (SELECT doc_id, tok, count(*) AS tf_t
           FROM (SELECT doc_id, unnest(title) AS tok FROM f)
           WHERE tok IN ('merge', 'row', 'table') GROUP BY doc_id, tok),
    bp AS (SELECT doc_id, tok, count(*) AS tf_b
           FROM (SELECT doc_id, unnest(body) AS tok FROM f)
           WHERE tok IN ('merge', 'row', 'table') GROUP BY doc_id, tok),
    post AS (SELECT doc_id, tok,
                    coalesce(tf_t, 0) * 3 + coalesce(tf_b, 0) AS wtf
             FROM tp FULL JOIN bp USING (doc_id, tok)),
    wdl AS (SELECT doc_id,
                   3 * least(n, 4) + greatest(n - 4, 0) AS wdl FROM f),
    stats AS (SELECT count(*)::double AS n_docs FROM documents),
    avgdl AS (SELECT avg(wdl) AS avgdl FROM wdl),
    dft AS (SELECT tok, count(*)::double AS df FROM post GROUP BY tok),
    weights AS (
      SELECT p.doc_id,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (p.wtf * (1.2 + 1))
               / (p.wtf + 1.2 * (1 - 0.75 + 0.75 * l.wdl / a.avgdl)) AS w
      FROM post p
      JOIN dft d USING (tok)
      JOIN wdl l USING (doc_id), stats s, avgdl a)
    SELECT doc_id, round(sum(w), 6) AS score
    FROM weights GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    "BM25F field-weighted ranking (simplified Robertson form): title "
    "hits (first 4 tokens, the infer_title_from_uri convention) count "
    "3x body hits, with field-weighted tf and doc length combined "
    "BEFORE one shared saturation — the principled form of the "
    "reference's OR-in-the-field-matches weighting (src/search/"
    "tantivy/query.rs:172-217). Integer weighted-tf keeps the score "
    "algebra bit-portable. Same plan shape as q12: vocab-filtered "
    "explodes, broadcast stats, one scoring groupBy, top-k.",
)
def q170_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return search.bm25f_topk(
        t.documents, ["merge", "row", "table"], k=15,
        title_tokens=4, title_weight=3,
    )


@spec(
    "q171_triangles",
    """
    WITH cnt AS (SELECT count(*)::bigint AS n FROM documents),
    raw AS (
      SELECT d.doc_id AS src,
             (d.doc_id * 7 + j.j * 13 + 1) % (SELECT n FROM cnt) AS dst
      FROM documents d
      JOIN generate_series(0, 2) j(j) ON j.j <= d.doc_id % 3),
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw WHERE src <> dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
      SELECT x AS node FROM tri UNION ALL
      SELECT y FROM tri UNION ALL
      SELECT z FROM tri),
    counts AS (SELECT node, count(*)::bigint AS n_tri
               FROM corners GROUP BY node),
    deg AS (SELECT node, count(*)::bigint AS degree FROM (
              SELECT a AS node FROM und UNION ALL SELECT b FROM und)
            GROUP BY node)
    SELECT c.node, d.degree, c.n_tri
    FROM counts c JOIN deg d USING (node)
    """,
    "per-node triangle counts over the q142 link graph — the third "
    "classic graph statistic beside PageRank and connected components "
    "(local cohesion: communities, mutual-citation rings, link farms). "
    "Node-iterator on canonicalized a<b edges finds each triangle "
    "exactly once via three equi-joins — no windows, no double "
    "counting; hub skew is AQE's skew-join case, and the "
    "degree-orientation refinement composes unchanged.",
)
def q171_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mesh import triangle_counts

    t = catalog.load(spark, sf_dir)
    n = t.documents.count()
    j = F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("j")
    edges = t.documents.select(F.col("doc_id").alias("src"), j).select(
        "src", ((F.col("src") * 7 + F.col("j") * 13 + 1) % n).alias("dst")
    )
    return triangle_counts(edges)


@spec(
    "q172_tar_ingest",
    """
    WITH sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9),
    members AS (
      SELECT doc_id AS archive_id,
             'm' || j.j || '.txt' AS member_name,
             'doc' || doc_id || ' member' || j.j || ' '
               || substr(text, 1 + j.j * 20, 30) AS content
      FROM sel JOIN generate_series(0, 2) j(j) ON true)
    SELECT archive_id, member_name,
           strlen(content)::bigint AS n_bytes,
           sha256(content) AS sha
    FROM members
    """,
    "archive-container ingestion: per doc a 3-member tar.gz is built "
    "(stdlib tarfile — an independent implementation), then extracted "
    "back member-by-member; the kernel raises on any content mismatch, "
    "so the hash match proves the archive round-trip at corpus scale. "
    "Completes the container tier (ZIP/OOXML, gzip, WARC, CFB, now "
    "tar), and readers.py treats gzip as a transparent wrapper "
    "(gunzip -> re-sniff -> inner reader) so doc.pdf.gz / corpus.tar.gz "
    "ingest with no special-casing. fan_out + mapInPandas; payloads "
    "never shuffle.",
)
def q172_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 10 == 9).select(
        "doc_id", "text"
    )

    def gen(batches):
        import hashlib
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                members = [
                    (f"m{j}.txt",
                     f"doc{did} member{j} " + text[j * 20 : j * 20 + 30])
                    for j in range(3)
                ]
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w:gz") as tf:
                    for name, content in members:
                        b = content.encode("utf-8")
                        info = tarfile.TarInfo(name=name)
                        info.size = len(b)
                        tf.addfile(info, io.BytesIO(b))
                back = {}
                with tarfile.open(
                    fileobj=io.BytesIO(buf.getvalue())
                ) as tf:
                    for m in tf.getmembers():
                        back[m.name] = tf.extractfile(m).read()
                for name, content in members:
                    b = content.encode("utf-8")
                    if back.get(name) != b:
                        raise ValueError(
                            f"tar round-trip mismatch doc {did} {name}"
                        )
                    rows.append((
                        did, name, len(b),
                        hashlib.sha256(b).hexdigest(),
                    ))
            yield pd.DataFrame(
                rows,
                columns=["archive_id", "member_name", "n_bytes", "sha"],
            )

    return fan_out(sel).mapInPandas(
        gen,
        "archive_id long, member_name string, n_bytes long, sha string",
    )


@spec(
    "q173_pdf_table_extract",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 4 + 2)::int AS n,
             ((doc_id // 3) % 3 + 2)::int AS n_cols,
             CASE WHEN doc_id % 2 = 0 THEN 'lattice' ELSE 'stream' END AS mode,
             (CASE WHEN doc_id % 4 + 2 > 3 THEN 2 ELSE 1 END)::int AS page_end
      FROM documents WHERE doc_id % 3 = 1),
    hdr AS (
      SELECT doc_id, 0::int AS table_index, 1::int AS rn,
             h.col_index, h.cell, mode, 1::int AS page_start, page_end
      FROM sel,
           (VALUES (0::int, 'item'), (1::int, 'qty'), (2::int, 'price'),
                   (3::int, 'note'))
             AS h(col_index, cell)
      WHERE h.col_index < n_cols),
    idx AS (
      SELECT doc_id, n_cols, mode, page_end,
             unnest(generate_series(1, n))::int AS i
      FROM sel),
    data_ AS (
      SELECT doc_id, 0::int AS table_index, (i + 1)::int AS rn,
             unnest([0, 1, 2, 3])::int AS col_index,
             unnest(['it' || (doc_id % 50) || '_' || i,
                     (doc_id + i)::varchar,
                     (doc_id % 90 + i)::varchar || '.5',
                     'n' || ((doc_id + i) % 7)]) AS cell,
             n_cols, mode, 1::int AS page_start, page_end
      FROM idx)
    SELECT doc_id, table_index, rn, col_index, cell, mode, page_start,
           page_end
    FROM (SELECT * FROM hdr UNION ALL
          SELECT doc_id, table_index, rn, col_index, cell, mode,
                 page_start, page_end
          FROM data_ WHERE col_index < n_cols)
    """,
    "PDF positional-layout table detection end to end "
    "(src/table/layout.rs:10-25 TextBox geometry, pdf_extractor.rs "
    "Lattice+Stream detection, multi_page.rs continuation merge): every "
    "third document becomes a REAL multi-page PDF whose cells are "
    "placed by Tm coordinates only — no delimiters — odd docs "
    "whitespace-aligned (stream detector), even docs with a stroked "
    "ruling grid (lattice detector); tables >3 data rows spill to a "
    "second page with the header reprinted, and the merge must stitch "
    "them back into ONE logical table (page_end=2) dropping the "
    "repeated header. The oracle recomputes every planted cell, so a "
    "hash match proves geometry→rows→cols→cells reconstruction exactly. "
    "fan_out + mapInPandas bytes kernels; payloads never shuffle.",
)
def q173_pdf_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import extract_pdf_table_cells, pdf_table_payloads

    t = catalog.load(spark, sf_dir)
    return extract_pdf_table_cells(pdf_table_payloads(t.documents))


@spec(
    "q174_pdf_table_types",
    """
    WITH sel AS (
      SELECT doc_id, (doc_id % 4 + 2)::bigint AS n,
             ((doc_id // 3) % 3 + 2)::int AS n_cols
      FROM documents WHERE doc_id % 3 = 1)
    SELECT doc_id, 0::int AS table_index, c.col_index, c.header, c.dtype,
           n AS n_rows
    FROM sel,
         (VALUES (0::int, 'item', 'str'), (1::int, 'qty', 'int'),
                 (2::int, 'price', 'double'), (3::int, 'note', 'str'))
           AS c(col_index, header, dtype)
    WHERE c.col_index < n_cols
    """,
    "format-agnostic structural typing: PDF positional tables render "
    "into the sheet-text shape and flow through the SAME multi-table "
    "detector + strictest-type column vote the XLSX tier uses "
    "(xlsx_table_detect.rs column typing over src/table/ extraction) — "
    "the oracle pins header propagation and int/double/str votes over "
    "every geometry-extracted table. Chunking and typing never "
    "special-case the source format.",
)
def q174_pdf_table_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import (
        pdf_sheet_texts,
        pdf_table_payloads,
        sheet_tables,
    )

    t = catalog.load(spark, sf_dir)
    return sheet_tables(pdf_sheet_texts(pdf_table_payloads(t.documents)))


@spec(
    "q175_ivfpq",
    None,  # KMeans coarse cells + codebooks not SQL-expressible → rows-only
    "IVF-PQ composed ANN with exact refinement (the FAISS IndexIVFPQ + "
    "IndexRefineFlat design, composing the reference's cell-probe and "
    "PQ tiers, src/vec.rs:22-28 + src/vec_pq.rs:1-175): coarse cells "
    "bound WHICH rows are scanned (n_probe/n_cells, partition-prunable "
    "on the cell key), residual product quantization bounds HOW MUCH "
    "is read per row (n_sub bytes), and the ADC shortlist re-scores "
    "exactly via one broadcast semi-join — quantization error leaves "
    "the final ranking entirely; remaining loss is the cell-probe "
    "ceiling. Beats the plain-PQ tier's recall (0.4 on this "
    "near-uniform synthetic sphere, the ANN-adversarial regime) at "
    "half the scan: measured 0.8 @ sf0.01 / 0.5 @ sf0.1. recall@10 "
    "rides in the output row; the unrefined ADC scan is additionally "
    "pinned equal to a NumPy replay in tests/test_annindex.py.",
)
def q175_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pq import ivfpq_encode, ivfpq_topk, train_ivfpq
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    qvec = [
        float(x) for x in t.embeddings.filter(F.col("vec_id") == 3).head().embedding
    ]
    model = train_ivfpq(t.embeddings, n_cells=8, n_sub=8, k=64)
    codes = ivfpq_encode(model, t.embeddings)
    top = ivfpq_topk(
        model, codes, qvec, k=10, n_probe=4, refine=20, emb=t.embeddings
    )
    approx = {r.vec_id for r in top.collect()}
    exact = {
        r.vec_id
        for r in knn(t.embeddings, qvec, 10, metric="l2").collect()
    }
    recall = len(approx & exact) / 10.0
    return local_frame(
        spark,
        [(10, float(recall), 8, 8, 64, 4, 20)],
        "k int, recall double, n_cells int, n_sub int, n_centroids int, "
        "n_probe int, refine int",
    )


# =========================================================================
# Sketch track (src/memvid/sketch.rs, src/types/sketch_track.rs): unified
# per-frame micro-index entries + query-sketch candidate scoring.
# =========================================================================

# DuckDB twin of operators/sketchtrack.sketch_entries (small variant:
# 2×60-bit filter words, top-2 terms). Weights min(tf,3)*100, tokens are
# lowercased alnum runs of length ≥ 2 (sketch_track.rs:650-698).
SQL_SKETCH = """
    sk_toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
                                t -> length(t) >= 2)) AS tok
      FROM documents
    ), sk_post AS (
      SELECT doc_id, tok, count(*) AS tf FROM sk_toks GROUP BY doc_id, tok
    ), sk_feat AS (
      SELECT doc_id, tf, least(tf, 3) * 100 AS w, h,
             xor(h, h >> 32) & 4294967295 AS hu32,
             h % 120 AS p1, (h >> 16) % 120 AS p2, (h >> 32) % 120 AS p3
      FROM (SELECT doc_id, tf, tok,
                   ('0x'||substr(md5(tok),1,15))::bigint AS h FROM sk_post)
    ), sk_votes AS (
      SELECT doc_id, j, sum(w * (((h >> j) & 1) * 2 - 1)) AS v
      FROM sk_feat, unnest(generate_series(0,59)) AS t(j) GROUP BY doc_id, j
    ), sk_sim AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
      FROM sk_votes GROUP BY doc_id
    ), sk_words AS (
      SELECT doc_id,
        bit_or((CASE WHEN p1 // 60 = 0 THEN (1::BIGINT << (p1 % 60)::int) ELSE 0 END)
             | (CASE WHEN p2 // 60 = 0 THEN (1::BIGINT << (p2 % 60)::int) ELSE 0 END)
             | (CASE WHEN p3 // 60 = 0 THEN (1::BIGINT << (p3 % 60)::int) ELSE 0 END)) AS f0,
        bit_or((CASE WHEN p1 // 60 = 1 THEN (1::BIGINT << (p1 % 60)::int) ELSE 0 END)
             | (CASE WHEN p2 // 60 = 1 THEN (1::BIGINT << (p2 % 60)::int) ELSE 0 END)
             | (CASE WHEN p3 // 60 = 1 THEN (1::BIGINT << (p3 % 60)::int) ELSE 0 END)) AS f1,
        sum(tf)::bigint AS token_count
      FROM sk_feat GROUP BY doc_id
    ), sk_rank AS (
      SELECT doc_id, hu32, w,
             row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, h) AS rk
      FROM sk_feat
    ), sk_tops AS (
      SELECT doc_id, list(hu32 ORDER BY rk) AS top_terms,
             least(sum(w), 65535)::bigint AS term_weight_sum
      FROM sk_rank WHERE rk <= 2 GROUP BY doc_id
    ), sk_entries AS (
      SELECT w.doc_id, s.simhash::bigint AS simhash, w.f0, w.f1, w.token_count,
             least(w.token_count // 10, 255)::bigint AS length_hint,
             w.token_count < 50 AS short_text, t.top_terms, t.term_weight_sum
      FROM sk_words w JOIN sk_sim s USING (doc_id) JOIN sk_tops t USING (doc_id)
    )
"""

_SKETCH_QUERY = "hash join vector merge scan"


@spec(
    "q176_sketch_entries",
    f"""
    WITH {SQL_SKETCH}
    SELECT * FROM sk_entries
    """,
    "per-frame sketch entries: SimHash + term filter words + top terms + "
    "length hint (generate_sketch, sketch_track.rs:719-776)",
)
def q176_sketch_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketchtrack

    t = catalog.load(spark, sf_dir)
    return sketchtrack.sketch_entries(t.documents)


def _sketch_candidates_oracle() -> str:
    from .operators.sketchtrack import query_sketch

    qs = query_sketch(_SKETCH_QUERY)
    mt = max(len(qs["top_terms"]), 1)
    qb = min(qs["token_count"] // 10, 255)
    qterms = ", ".join(str(t) for t in qs["top_terms"])
    return f"""
    WITH {SQL_SKETCH},
    gated AS (
      SELECT doc_id, length_hint, top_terms,
             bit_count(xor(simhash, {qs['simhash']})::bigint) AS ham,
             len(list_filter(top_terms,
                 t -> t != 0 AND list_contains([{qterms}], t)))::bigint AS mt
      FROM sk_entries
      WHERE ((f0 & {qs['filter_words'][0]}) != 0
             OR (f1 & {qs['filter_words'][1]}) != 0)
    )
    SELECT doc_id,
           round(0.5 * (mt::double / {float(mt)})
                 + 0.4 * (1.0 - ham::double / 60.0)
                 + 0.1 * (1.0 / (1.0 + 0.1 * abs(length_hint - {qb})::double)),
                 6) AS score,
           ham::bigint AS hamming, mt AS matching_top_terms
    FROM gated WHERE ham <= 60
    ORDER BY score DESC, doc_id LIMIT 500
    """


@spec(
    "q177_sketch_candidates",
    None,  # filled by _computed_oracles from the shared query sketch
    "query-sketch candidate scoring: term-filter gate, Hamming gate, "
    "0.5/0.4/0.1 blended score (score_entry, sketch_track.rs:823-860)",
)
def q177_sketch_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketchtrack

    t = catalog.load(spark, sf_dir)
    entries = sketchtrack.sketch_entries(t.documents)
    return sketchtrack.sketch_candidates(
        entries, _SKETCH_QUERY, hamming_threshold=60, max_candidates=500
    )


@spec(
    "q178_segment_plan",
    """
    WITH c AS (
      SELECT doc_id AS parent_id, 0 AS chunk_index,
             greatest(n_chars, 1)::bigint AS tok
      FROM documents
    ),
    p AS (
      SELECT *, coalesce(sum(tok) OVER (
        ORDER BY parent_id, chunk_index
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
      FROM c
    ),
    s AS (SELECT *, floor(tok_before / 50000)::bigint AS segment FROM p)
    SELECT segment,
           count(*)::bigint AS chunk_count,
           sum(tok)::bigint AS estimated_tokens,
           min(tok_before)::bigint AS token_start,
           max(tok_before + tok)::bigint AS token_end,
           min(parent_id)::bigint AS first_parent,
           max(parent_id)::bigint AS last_parent
    FROM s GROUP BY segment
    """,
    "segment build planning (SegmentPlanner::plan_from_chunks, "
    "src/memvid/planner.rs:17-121): chunks in (frame, chunk_index) "
    "order accumulate into token-budgeted segments via one prefix-sum "
    "window — no driver loop; the strict close-on-overflow variant is "
    "pinned by pytest (greedy reset-on-close is not SQL-expressible)",
)
def q178_segment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import plan_segments

    t = catalog.load(spark, sf_dir)
    chunks = t.documents.select(
        F.col("doc_id").alias("parent_id"),
        F.lit(0).cast("long").alias("chunk_index"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("n_tokens"),
    )
    # token budget only (pages default to 1/chunk; a finite page budget
    # would add a second, SQL-duplicable boundary — kept out of the twin)
    plans = plan_segments(chunks, segment_tokens=50_000, segment_pages=1 << 40)
    return plans.select(
        "segment",
        "chunk_count",
        "estimated_tokens",
        "token_start",
        "token_end",
        F.col("first_chunk.parent_id").alias("first_parent"),
        F.col("last_chunk.parent_id").alias("last_parent"),
    )


@spec(
    "q179_semdedup_autok",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::double[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::double[], x -> x * 1.001)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    counted AS (
      SELECT *, count(*) OVER () AS n,
             row_number() OVER (ORDER BY vec_id) AS rn
      FROM base
    ),
    seeds AS (
      SELECT vec_id AS seed_id, v AS sv FROM counted
      WHERE rn <= cast(ceil(n / 256.0) AS bigint)
    ),
    scored AS (
      SELECT b.vec_id, b.v, s.seed_id,
             round({SQL_COS.format(a='b.v', b='s.sv')}, 9) AS c
      FROM base b CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, v, seed_id AS cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY c DESC, seed_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r
        ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      WHERE {SQL_COS.format(a='l.v', b='r.v')} >= 0.999
    )
    SELECT a.vec_id, a.cluster, (d.vec_id IS NOT NULL) AS is_dup
    FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    "SemDeDup with AUTO-SCALED k = ceil(n / 256) from one cheap count "
    "— the paper's own k ∝ n recipe (arXiv:2303.09540 §3), which keeps "
    "mean cluster size (and so total pairwise work n·target_m) bounded "
    "by design instead of by the recall-losing mega-cluster cap. At "
    "oracle scale the auto k lands in the exact broadcast-join band so "
    "DuckDB replays it bit-for-bit; at probe scale (k ≈ n/256 > 64) "
    "the same call routes assignment through the two-level IVF-style "
    "matmul path (seed_assign_scaled) — O(sqrt(k)·d) per row.",
)
def q179_semdedup_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import semdedup as sd

    t = catalog.load(spark, sf_dir)
    planted = dedup.plant_near_dups(t.embeddings, every=10)
    return sd.semdedup(planted, k=None, tau=0.999)


@spec(
    "q180_hnsw_ivf_pruned",
    None,  # kmeans cells + graph walks are not SQL-expressible → rows-only
    "IVF-cell-sharded NSW with cell-pruned search — the serving-tier "
    "scale path for the HNSW tier (src/vec.rs:345-435): hash-sharding "
    "makes every query beam-search every shard, O(n_shards) work per "
    "request; here vectors shard by nearest trained centroid, the graph "
    "persists partitionBy(cell), and a query beam-searches only the "
    "`probes` nearest cells (planning-time PartitionFilters against the "
    "hive layout). recall@10 vs exact L2 ground truth, the reference's "
    "own validation (src/vec.rs:587-651). The corpus gets a "
    "deterministic per-id cluster offset first: IVF locality is a "
    "statement about data WITH cluster structure (real embedding "
    "corpora); on isotropic-random vectors cell pruning measures noise "
    "by construction. The recall bound and the probes>=n_cells == "
    "full-search equivalence are pinned in tests/test_hnsw_ivf.py.",
)
def q180_hnsw_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import (
        build_nsw_index_ivf,
        nsw_knn_pruned,
        train_cell_centroids,
    )
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    # deterministic cluster structure: member of cluster c = vec_id % 8
    # is shifted +8.0 along dimension c — well-separated blobs whose
    # within-blob ordering is still the original hash-random geometry
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    qvec = [
        float(x)
        for x in clustered.filter(F.col("vec_id") == 3).head().embedding
    ]
    cents = train_cell_centroids(clustered, n_cells=8)
    index = build_nsw_index_ivf(clustered, cents, m=16)
    approx = {
        r.vec_id
        for r in nsw_knn_pruned(index, cents, qvec, k=10, probes=2).collect()
    }
    exact = {
        r.vec_id for r in knn(clustered, qvec, k=10, metric="l2").collect()
    }
    recall = len(approx & exact) / 10.0
    return local_frame(
        spark,
        [(10, float(recall), 8, 2)],
        "k int, recall double, n_cells int, probes int",
    )


@spec(
    "q181_nsw_batch_join",
    None,  # kmeans cells + graph walks are not SQL-expressible → rows-only
    "batch ANN retrieval join — top-k neighbors for a whole DataFrame "
    "of queries against the IVF-cell NSW graph in ONE cogrouped job "
    "(the retrieval join of dedup-against-index / hard-negative-mining "
    "pipelines; per-query driver calls would be O(queries) Spark jobs). "
    "Queries map to probed cells via a broadcast-centroid matmul, "
    "replicate to their cells' sub-shards, and a cogroup on shard pairs "
    "each sub-shard's graph with exactly its query slice — per-task "
    "memory one sub-shard + queries. Per-query equivalence to the "
    "single-query pruned search and the recall bound are pinned in "
    "tests/test_hnsw_ivf.py.",
)
def q181_nsw_batch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import (
        build_nsw_index_ivf,
        nsw_knn_join,
        train_cell_centroids,
    )

    t = catalog.load(spark, sf_dir)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    cents = train_cell_centroids(clustered, n_cells=8)
    index = build_nsw_index_ivf(clustered, cents, m=16)
    queries = clustered.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return nsw_knn_join(
        index, cents, queries, k=5, probes=2, exclude_same_id=True
    )


@spec(
    "q182_nsw_join_recall",
    """
    SELECT 5 AS k, 4 AS probes,
           count(*)::bigint AS n_queries,
           true AS min_recall_ge
    FROM embeddings WHERE vec_id % 25 = 0
    """,
    "sweep-grade recall guard for the batch ANN retrieval join: "
    "nsw_knn_join's per-query top-5 on the clustered corpus is scored "
    "against exact per-query L2 ground truth (knn_join, the broadcast "
    "similarity join), and the row the sweep hash-checks carries "
    "n_queries = DISTINCT query ids the batch join answered (every "
    "query must come back — a dropped query breaks the count) and "
    "min_recall_ge = min per-query recall@5 >= 0.8 (the reference's "
    "own recall bound, src/vec.rs:645-650). The graph walk itself is "
    "not SQL-expressible, but the COVERAGE and the BOUND are exact "
    "integers/booleans DuckDB replays — so q181's semantics are now "
    "sweep-checked, not only pytest-pinned.",
)
def q182_nsw_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import (
        build_nsw_index_ivf,
        nsw_knn_join,
        train_cell_centroids,
    )
    from .operators.knn import knn_join

    t = catalog.load(spark, sf_dir)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    # n_cells=16 (finer than the 8 planted blobs): with 8 trained
    # cells, k-means can slice a SLIVER of one blob into a cell
    # dominated by another; before the build-time entry cover
    # (hnsw._entry_cover) the sliver was too small to catch a beam
    # seed and its queries lost their true neighbors no matter how
    # many cells were probed (measured at sf0.1: min recall 0.2 at
    # probes=6/8 cells vs 1.0 at 4/16). The cover now guarantees
    # every graph island a seed (pinned in test_hnsw_ivf); 16 cells
    # are kept so one cell ≈ one blob region — probes=4 of 16 still
    # exercises REAL pruning (a quarter of the index).
    cents = train_cell_centroids(clustered, n_cells=16)
    index = build_nsw_index_ivf(clustered, cents, m=16)
    queries = clustered.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = nsw_knn_join(
        index, cents, queries, k=5, probes=4, exclude_same_id=True
    )
    exact = knn_join(
        clustered,
        queries.select(
            F.col("query_id").alias("q_id"),
            F.col("query_vec").alias("q_vec"),
        ),
        k=5,
        metric="l2",
    ).select(F.col("q_id").alias("query_id"), "vec_id")
    hits = (
        batch.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    per_q = (
        batch.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.lit(5.0)).alias("recall"),
        )
    )
    return per_q.agg(
        F.lit(5).alias("k"),
        F.lit(4).alias("probes"),
        F.count("*").alias("n_queries"),
        (F.min("recall") >= F.lit(0.8)).alias("min_recall_ge"),
    )


@spec(
    "q183_streaming_ann_maintenance",
    """
    SELECT count(*)::bigint AS n_indexed,
           true AS streamed_equals_rebuild
    FROM embeddings
    WHERE NOT (vec_id % 20 = 0 AND vec_id % 3 = 0)
    """,
    "streaming index maintenance invariant (streaming/annsink.py): the "
    "vector corpus arrives as three CDC micro-batches (vec_id % 3), the "
    "second carrying tombstones for some already-indexed ids, and each "
    "batch routes through apply_delta_ivf (touched cells only — the "
    "streaming extension of the reference's finalize-indexes-at-commit, "
    "mutation.rs:913-918). The sweep-hashed row carries n_indexed = "
    "rows in the maintained index (DuckDB replays the surviving-id "
    "predicate exactly) and streamed_equals_rebuild = the maintained "
    "graph equals ONE build over the surviving corpus row-for-row "
    "(exceptAll both directions, neighbors + entry cover included) — "
    "the exactly-once-by-determinism contract, checked in the sweep.",
)
def q183_streaming_ann_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.hnsw import build_nsw_index_ivf, train_cell_centroids
    from .streaming.annsink import StreamingAnnMaintainer

    t = catalog.load(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    cents = [
        [float(x) for x in c]
        for c in train_cell_centroids(emb, n_cells=8)
    ]
    # every result below materializes to driver scalars before the
    # store dir is removed (the returned frame is literals-only), so
    # repeated sweep/bench invocations leak nothing in /tmp
    store = tempfile.mkdtemp(prefix="mv2_q183_")
    try:
        mt = StreamingAnnMaintainer(store, cents, m=8, ef_construction=60)
        dead = (F.col("vec_id") % 20 == 0) & (F.col("vec_id") % 3 == 0)
        for b in range(3):
            batch = emb.filter(F.col("vec_id") % 3 == b).select(
                "vec_id",
                "embedding",
                F.lit(False).alias("deleted"),
                F.lit(b).cast("long").alias("seq"),
            )
            if b == 1:  # tombstone already-indexed ids mid-stream
                batch = batch.unionByName(
                    emb.filter(dead)
                    .select(
                        "vec_id",
                        F.lit(None).cast("array<double>").alias("embedding"),
                        F.lit(True).alias("deleted"),
                        F.lit(b).cast("long").alias("seq"),
                    )
                )
            mt.apply_batch(batch, b)  # foreachBatch hands exactly this frame
        streamed = mt.index(spark)
        truth = build_nsw_index_ivf(
            emb.filter(~dead), cents, m=8, ef_construction=60
        ).localCheckpoint()
        cols = ["cell", "shard", "vec_id", "neighbors", "embedding", "entry"]
        a, b_ = streamed.select(*cols), truth.select(*cols)
        equal = (a.exceptAll(b_).count() == 0) and (
            b_.exceptAll(a).count() == 0
        )
        n_indexed = streamed.count()
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return spark.range(1).select(
        F.lit(n_indexed).cast("long").alias("n_indexed"),
        F.lit(bool(equal)).alias("streamed_equals_rebuild"),
    )


@spec(
    "q184_semdedup_scaled_agreement",
    f"""
    WITH clustered AS (
      SELECT vec_id,
             list_transform(
               embedding::double[],
               (x, i) -> x + CASE WHEN i - 1 = vec_id % 8
                                  THEN 8.0 ELSE 0.0 END
             ) AS v0
      FROM embeddings
    ),
    base AS (
      SELECT vec_id, v0 AS v FROM clustered
      UNION ALL
      SELECT vec_id + 1000000, list_transform(v0, x -> x * 1.001)
      FROM clustered WHERE vec_id % 10 = 0
    ),
    seeds AS (
      SELECT vec_id AS seed_id, v AS sv FROM base
      ORDER BY vec_id LIMIT 64
    ),
    scored AS (
      SELECT b.vec_id, b.v, s.seed_id,
             round({SQL_COS.format(a='b.v', b='s.sv')}, 9) AS c
      FROM base b CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, v, seed_id AS cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY c DESC, seed_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r
        ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      WHERE {SQL_COS.format(a='l.v', b='r.v')} >= 0.999
    )
    SELECT (SELECT count(*) FROM base)::bigint AS n_rows,
           64 AS k, 2 AS probes,
           (SELECT count(*) FROM dups)::bigint AS n_dups_exact,
           true AS agreement_ge,
           true AS dup_mass_delta_le
    """,
    "sweep-grade quality guard for the SCALED SemDeDup assignment at "
    "its SHIPPING configuration (probes=2): q179's scaled ≡ exact pin "
    "holds only at full probes, so nothing bounded the IVF-style "
    "approximation the way q182 bounds the ANN join. Corpus = the "
    "q180/q182 deterministic cluster offset (+8.0 on dim vec_id % 8) "
    "plus planted near-dups — IVF locality is a statement about data "
    "WITH cluster structure (on the raw isotropic vectors agreement "
    "measures boundary noise by construction: measured 0.48-0.55, yet "
    "duplicate mass still IDENTICAL — the consumer-visible quantity). "
    "The hashed row carries n_rows and n_dups_exact (DuckDB replays "
    "the full exact SemDeDup at k=64), agreement_ge = fraction of "
    "rows where seed_assign_scaled(k=64, probes=2) picks the exact "
    "path's cluster >= 0.95 (measured 1.0 at sf0.01 AND sf0.1), and "
    "dup_mass_delta_le = the dup-count delta the scaled assignment "
    "induces through the identical pairwise kernel <= ceil(1% of n) "
    "(measured 0 at both scales).",
)
def q184_semdedup_scaled_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    from .operators import dedup
    from .operators import semdedup as sd

    t = catalog.load(spark, sf_dir)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    planted = dedup.plant_near_dups(clustered, every=10).localCheckpoint()
    k = 64
    exact = sd.seed_assign(planted, k=k).localCheckpoint()
    scaled = sd.seed_assign_scaled(planted, k=k, probes=2).localCheckpoint()
    agg = (
        exact.select("vec_id", F.col("cluster").alias("ce"))
        .join(scaled.select("vec_id", F.col("cluster").alias("cs")), "vec_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("ce") == F.col("cs")).cast("int")).alias("agree"),
        )
        .head()
    )
    n_dups_exact = sd.mark_cluster_dups(exact).filter("is_dup").count()
    n_dups_scaled = sd.mark_cluster_dups(scaled).filter("is_dup").count()
    return spark.range(1).select(
        F.lit(int(agg.n)).cast("long").alias("n_rows"),
        F.lit(k).alias("k"),
        F.lit(2).alias("probes"),
        F.lit(int(n_dups_exact)).cast("long").alias("n_dups_exact"),
        F.lit(bool(agg.agree / agg.n >= 0.95)).alias("agreement_ge"),
        F.lit(
            bool(
                abs(n_dups_scaled - n_dups_exact)
                <= math.ceil(0.01 * agg.n)
            )
        ).alias("dup_mass_delta_le"),
    )


@spec(
    "q185_hnsw_scaled_train",
    """
    SELECT 16 AS n_cells_trained, count(*)::bigint AS n_indexed,
           true AS delta_equals_rebuild, true AS min_recall_ge
    FROM embeddings
    """,
    "sweep-grade guard for the DISTRIBUTED coarse-quantizer trainer "
    "(round 10 — the max_cells=4096 lift): train_cell_centroids_scaled "
    "trains sqrt(k) super-centroids on the driver and each super-"
    "group's sub-centroids in parallel executor-side (the two-level "
    "assignment's shape applied to TRAINING, so the 100 TB tier has no "
    "O(k·sample·d) driver k-means bottleneck). The hashed row pins: "
    "n_cells_trained = the exact centroid count the distributed path "
    "returned (proportional largest-remainder allocation must hit the "
    "ask on healthy clustered data), n_indexed = rows in the built "
    "index (DuckDB replays the count), delta_equals_rebuild = "
    "apply_delta_ivf over the scaled-trained model equals one full "
    "build row-for-row (neighbors + entry cover, exceptAll both ways "
    "— the load-bearing contract survives the trainer swap), and "
    "min_recall_ge = pruned recall@10 >= 0.8 vs exact L2 ground truth "
    "(src/vec.rs:645-650) on the planted-cluster corpus. The delta is "
    "APPEND-SHAPED (every delta id above the stored max, no deletes) "
    "so the sweep also exercises the round-10 append fast path — the "
    "kernel resumes the stored sub-graph's insert loop — while q183's "
    "interleaved batches + tombstones keep the rebuild fallback "
    "sweep-covered. The >4096-cell forced path itself is pytest-pinned "
    "(test_above_clamp_cells_delta_equals_rebuild_and_recall).",
)
def q185_hnsw_scaled_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import (
        apply_delta_ivf,
        build_nsw_index_ivf,
        nsw_knn_pruned,
        train_cell_centroids_scaled,
    )
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    ).localCheckpoint()  # feeds train, two builds, delta, ground truth
    n = clustered.count()
    cents = train_cell_centroids_scaled(clustered, 16, n_hint=n)
    trained = len(cents)
    # append-shaped split: every delta id exceeds the stored max, so
    # eligible cells take the append fast path (q183 covers fallback)
    cut = clustered.agg(
        F.percentile_approx("vec_id", F.lit(0.9), F.lit(10000))
    ).head()[0]
    base = clustered.filter(F.col("vec_id") < cut)
    delta = clustered.filter(F.col("vec_id") >= cut)
    applied = apply_delta_ivf(
        build_nsw_index_ivf(base, cents, m=16), delta, cents, m=16
    )
    truth = build_nsw_index_ivf(clustered, cents, m=16).localCheckpoint()
    cols = ["cell", "shard", "vec_id", "neighbors", "embedding", "entry"]
    a, b = applied.select(*cols).localCheckpoint(), truth.select(*cols)
    equal = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    qvec = [
        float(x)
        for x in clustered.filter(F.col("vec_id") == 3).head().embedding
    ]
    approx = {
        r.vec_id
        for r in nsw_knn_pruned(truth, cents, qvec, k=10, probes=4).collect()
    }
    exact = {
        r.vec_id for r in knn(clustered, qvec, k=10, metric="l2").collect()
    }
    recall = len(approx & exact) / 10.0
    return spark.range(1).select(
        F.lit(trained).cast("int").alias("n_cells_trained"),
        F.lit(int(n)).cast("long").alias("n_indexed"),
        F.lit(bool(equal)).alias("delta_equals_rebuild"),
        F.lit(bool(recall >= 0.8)).alias("min_recall_ge"),
    )


@spec(
    "q186_crossmodal_ann_route",
    """
    SELECT 10 AS k, count(*)::bigint AS n_images,
           true AS overlap_ge, true AS shared_dist2_exact
    FROM documents WHERE doc_id % 4 = 0
    """,
    "the cross-modal image space routed through the ANN serving tier "
    "(round 10 — the reference's SECOND ANN space: clip.rs:297-380 "
    "runs the same HNSW over image vectors; exact-only search decodes "
    "and scores the whole image corpus per query, the linear term the "
    "text tier already eliminated). Formula images → real PNG bytes → "
    "stdlib decode → integer features → IVF-NSW graph over the image "
    "embeddings; crossmodal_knn_ann walks the probed cells for the "
    "candidate set and EXACT-RESCORES it with the integer squared-L2 "
    "total order of the exact path. The hashed row pins: n_images = "
    "corpus size (DuckDB replays the selection), overlap_ge = top-10 "
    "overlap with the exact scan >= 0.8 (the recall bound), "
    "shared_dist2_exact = every hit returned by BOTH routes carries "
    "the IDENTICAL integer dist2 (the rescore is the same metric — "
    "only the candidate set is approximate). Facade routing / engage "
    "threshold / persistence are pytest-pinned (test_crossmodal "
    "TestImageAnnServing).",
)
def q186_crossmodal_ann_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import crossmodal
    from .operators.hnsw import (
        auto_n_cells,
        build_nsw_index_ivf,
        train_cell_centroids,
    )
    from .sources.image import png_encode

    t = catalog.load(spark, sf_dir)
    sel = t.documents.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 13 + 4, mid % 11 + 4
                ch = {0: 1, 1: 3, 2: 4}[mid % 3]
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
                )
                px = ((mid * 31 + x * 7 + y * 13 + c * 101) % 256).astype(
                    np.uint8
                )
                rows.append((mid, png_encode(px)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = fan_out(sel).mapInPandas(gen, "media_id long, payload binary")
    # one decode pass feeds the exact control, the count, the trainer
    # and the graph build
    vecs = crossmodal.embed_images(media).localCheckpoint()
    n = vecs.count()
    emb = vecs.select(
        F.col("media_id").alias("vec_id"),
        F.col("emb").cast("array<double>").alias("embedding"),
    )
    cents = train_cell_centroids(
        emb, n_cells=auto_n_cells(n, target_cell_rows=64), n_hint=n
    )
    index = build_nsw_index_ivf(emb, cents, m=16).localCheckpoint()
    ann = crossmodal.crossmodal_knn_ann(
        index, cents, _XM_QUERY, k=10, probes=8
    ).localCheckpoint()
    exact = crossmodal.crossmodal_knn(vecs, _XM_QUERY, k=10).localCheckpoint()
    a = {(r.media_id, r.dist2) for r in ann.collect()}
    e = {(r.media_id, r.dist2) for r in exact.collect()}
    overlap = len({m for m, _ in a} & {m for m, _ in e}) / 10.0
    shared = {m for m, _ in a} & {m for m, _ in e}
    d_a = {m: d for m, d in a}
    d_e = {m: d for m, d in e}
    dist_ok = all(d_a[m] == d_e[m] for m in shared)
    return spark.range(1).select(
        F.lit(10).alias("k"),
        F.lit(int(n)).cast("long").alias("n_images"),
        F.lit(bool(overlap >= 0.8)).alias("overlap_ge"),
        F.lit(bool(dist_ok)).alias("shared_dist2_exact"),
    )


@spec(
    "q187_hnsw_centroid_frame",
    """
    SELECT 16 AS n_cells_trained, count(*)::bigint AS n_indexed,
           true AS delta_equals_rebuild, true AS min_recall_ge
    FROM embeddings
    """,
    "sweep-grade guard for the DATAFRAME-RESIDENT coarse-quantizer "
    "model (round 10 — CentroidFrame, the path past the O(n_cells·dim) "
    "centroid broadcast/collect bound: at 100 TB the default target "
    "wants ~400k cells × 768 dims ≈ 2.4 GB, too big to ship to every "
    "task). Only the sqrt(k) super block and the per-group offsets "
    "live on the driver; the centroid table stays pinned rows and "
    "assignment pairs corpus rows with their probed groups' blocks "
    "via a cogroup (hnsw._with_cell_frame). The hashed row pins: "
    "n_cells_trained = exact model size, n_indexed = index rows "
    "(DuckDB replays), delta_equals_rebuild = apply_delta_ivf routed "
    "through the frame model equals one full build row-for-row "
    "(interleaved delta — the rebuild-fallback kernel shape), "
    "min_recall_ge = pruned recall@10 >= 0.8 where query-time probing "
    "collects only the nearest supers' blocks (CentroidFrame."
    "probe_cells), never the table.",
)
def q187_hnsw_centroid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hnsw import (
        apply_delta_ivf,
        build_nsw_index_ivf,
        nsw_knn_pruned,
        train_cell_centroids_frame,
    )
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    ).localCheckpoint()
    n = clustered.count()
    cf = train_cell_centroids_frame(clustered, 16, n_hint=n)
    base = clustered.filter(F.col("vec_id") % 7 != 0)
    delta = clustered.filter(F.col("vec_id") % 7 == 0)
    applied = apply_delta_ivf(
        build_nsw_index_ivf(base, cf, m=16), delta, cf, m=16
    )
    truth = build_nsw_index_ivf(clustered, cf, m=16).localCheckpoint()
    cols = ["cell", "shard", "vec_id", "neighbors", "embedding", "entry"]
    a, b = applied.select(*cols).localCheckpoint(), truth.select(*cols)
    equal = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    qvec = [
        float(x)
        for x in clustered.filter(F.col("vec_id") == 3).head().embedding
    ]
    approx = {
        r.vec_id
        for r in nsw_knn_pruned(truth, cf, qvec, k=10, probes=4).collect()
    }
    exact = {
        r.vec_id for r in knn(clustered, qvec, k=10, metric="l2").collect()
    }
    recall = len(approx & exact) / 10.0
    return spark.range(1).select(
        F.lit(int(cf.n_cells)).cast("int").alias("n_cells_trained"),
        F.lit(int(n)).cast("long").alias("n_indexed"),
        F.lit(bool(equal)).alias("delta_equals_rebuild"),
        F.lit(bool(recall >= 0.8)).alias("min_recall_ge"),
    )


@spec(
    "q188_facade_frame_model",
    """
    SELECT count(*)::bigint * 2 + 2 AS n_tracked,
           true AS model_is_frame,
           true AS reopen_identical,
           true AS delta_equals_rebuild,
           true AS min_recall_ge
    FROM embeddings
    """,
    "sweep-grade guard for the FACADE's frame-model serving wiring: "
    "build_ann_serving past hnsw.FRAME_MODEL_MIN_CELLS trains "
    "hnsw.CentroidFrame (the bound is lowered for the query so the "
    "frame form runs at sweep scale), save() persists it as parquet + "
    "manifest (no json model file), open() reloads it, and "
    "search/delta route through the cogroup forms. The hashed row "
    "pins: n_tracked = the doubled vector track (DuckDB replays), "
    "model_is_frame = the built AND reopened model are CentroidFrame "
    "with no ann_centroids.json on disk, reopen_identical = the same "
    "query returns identical (vec_id, score, rank) before/after the "
    "save/open round trip, delta_equals_rebuild = a save-time "
    "upsert+tombstone delta on the frame path equals one fresh build "
    "over the surviving track row-for-row (exceptAll both ways), "
    "min_recall_ge = ANN recall@10 vs exact >= 0.8 on the planted-"
    "cluster track. The lowered bound is process-wide while the query "
    "runs, so queries must run one at a time.",
)
def q188_facade_frame_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import hnsw

    # 16 cells past a bound of 8: every train (build and any drift
    # retrain at save time) picks the frame form. The bound is a
    # module global, so the lowering holds process-wide for the
    # query's duration: run this query alone, not alongside other
    # facade builds or sink retrains in the same process.
    bound = hnsw.FRAME_MODEL_MIN_CELLS
    hnsw.FRAME_MODEL_MIN_CELLS = 8
    try:
        return _q188_facade_frame_model(spark, sf_dir)
    finally:
        hnsw.FRAME_MODEL_MIN_CELLS = bound


def _q188_facade_frame_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .api import MemvidSpark
    from .operators.hnsw import CentroidFrame, build_nsw_index_ivf
    from .operators.knn import knn

    t = catalog.load(spark, sf_dir)
    # planted clusters (the q187 recipe) + a shifted twin of every row
    # so the track crosses the >=1000-vector ANN engage threshold at
    # sf0.01 (500 base vectors)
    clustered = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            + F.when(
                i == (F.col("vec_id") % 8).cast("int"), F.lit(8.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    twin = clustered.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.125)
        ).alias("embedding"),
    )
    track = clustered.unionByName(twin).localCheckpoint()
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in track.collect()
    ]
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=16, m=16, probes=4)
    is_frame = isinstance(mv._ann_cents, CentroidFrame)
    qvec = dict(pairs)[3]
    before = [
        (r.vec_id, r.score, r.rank)
        for r in mv.search_embeddings(qvec, k=10, ann=True).collect()
    ]
    exact = {
        r["vec_id"]
        for r in knn(track, qvec, k=10, metric="l2").collect()
    }
    recall = len({v for v, _, _ in before} & exact) / 10.0
    store = tempfile.mkdtemp(prefix="mv2_q188_")
    try:
        mv.save(store)
        import os

        no_json = not os.path.exists(
            os.path.join(store, "ann_centroids.json")
        )
        mv2 = MemvidSpark.open(spark, store)
        is_frame = is_frame and isinstance(mv2._ann_cents, CentroidFrame)
        after = [
            (r.vec_id, r.score, r.rank)
            for r in mv2.search_embeddings(qvec, k=10, ann=True).collect()
        ]
        reopen_identical = before == after
        # save-time delta on the frame path: 3 new vectors + one
        # tombstone, then compare the maintained index to a fresh
        # build over the surviving track with the SAME persisted model
        # (the track is append-only, so delta upserts use fresh ids)
        moved = [
            (2_000_000 + fid, [x + 0.25 for x in vec])
            for fid, vec in pairs[:3]
        ]
        mv2.add_embeddings(moved)
        mv2.delete(int(pairs[5][0]))
        mv2.save(store)
        mv3 = MemvidSpark.open(spark, store)
        cols = ["cell", "shard", "vec_id", "neighbors", "embedding", "entry"]
        maintained = mv3._ann_index.select(*cols).localCheckpoint()
        meta = mv3._ann_meta
        truth = build_nsw_index_ivf(
            mv3._ann_active_track(),
            mv3._ann_cents,
            m=meta["m"],
            ef_construction=meta["ef_construction"],
            max_shard_rows=meta["max_shard_rows"],
        ).select(*cols).localCheckpoint()
        equal = (
            maintained.exceptAll(truth).count() == 0
            and truth.exceptAll(maintained).count() == 0
        )
        n_tracked = int(maintained.count())  # 2·base + 3 added − 1 gone
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return spark.range(1).select(
        F.lit(int(n_tracked)).cast("long").alias("n_tracked"),
        F.lit(bool(is_frame and no_json)).alias("model_is_frame"),
        F.lit(bool(reopen_identical)).alias("reopen_identical"),
        F.lit(bool(equal)).alias("delta_equals_rebuild"),
        F.lit(bool(recall >= 0.8)).alias("min_recall_ge"),
    )


def _computed_oracles() -> None:
    """Fill in oracles that are assembled from shared Python constants
    (regex/rule catalogs) so engine and oracle can't drift."""
    from .functions.extract import sql_auto_tags, sql_mask_pii

    by_name = {s.name: s for s in SPECS}
    by_name["q71_auto_tags"].oracle = f"""
    SELECT doc_id,
           array_to_string({sql_auto_tags('text')}, ',') AS tags,
           len({sql_auto_tags('text')}) AS n_tags
    FROM documents
    """
    synth = (
        "'contact user' || doc_id || '@corp.example.com call 555-123-4567 "
        "ssn 123-45-6789 re: ' || substr(text, 1, 40)"
    )
    by_name["q72_pii_masking"].oracle = f"""
    SELECT doc_id, {sql_mask_pii(synth)} AS masked
    FROM documents WHERE doc_id < 100
    """
    from datetime import datetime, timezone

    from .plans.temporal import resolve_ns

    _anchor = datetime(2024, 1, 17, 12, 0, tzinfo=timezone.utc)
    _vals = ", ".join(
        "('{}', {}, {})".format(
            ph.replace("'", "''"), lo // 1000, hi // 1000
        )
        for ph, (lo, hi) in ((p, resolve_ns(p, _anchor)) for p in TEMPORAL_PHRASES)
    )
    by_name["q59_temporal_phrase"].oracle = f"""
    WITH bounds(phrase, lo_us, hi_us) AS (VALUES {_vals}),
    hits AS (
      SELECT b.phrase, count(*)::bigint AS n_events
      FROM events e JOIN bounds b
        ON epoch_us(e.ts) >= b.lo_us AND epoch_us(e.ts) < b.hi_us
      GROUP BY b.phrase
    )
    SELECT b.phrase, b.lo_us::bigint AS lo_us, b.hi_us::bigint AS hi_us,
           coalesce(h.n_events, 0)::bigint AS n_events
    FROM bounds b LEFT JOIN hits h USING (phrase)
    """

    by_name["q91_polarity_summary"].oracle = f"""
    WITH {SQL_CARDS}
    SELECT slot, polarity, count(*)::bigint AS n_current,
           count(DISTINCT entity)::bigint AS n_entities
    FROM (
      SELECT *, row_number() OVER (PARTITION BY entity, slot
                                   ORDER BY ts DESC, seq DESC) AS rn
      FROM cards)
    WHERE rn = 1 AND version_relation <> 'Retracts'
    GROUP BY slot, polarity
    """

    by_name["q69_cardinality_violations"].oracle = f"""
    WITH {SQL_CARDS},
    lr AS (
      SELECT entity, slot, ts, seq FROM (
        SELECT entity, slot, ts, seq,
          row_number() OVER (PARTITION BY entity, slot
                             ORDER BY ts DESC, seq DESC) AS rn
        FROM cards WHERE version_relation <> 'Extends'
      ) WHERE rn = 1
    ),
    cur AS (
      SELECT c.entity, c.slot, c.value
      FROM cards c LEFT JOIN lr ON c.entity = lr.entity AND c.slot = lr.slot
      WHERE (c.version_relation = 'Updates'
             AND c.ts = lr.ts AND c.seq = lr.seq)
         OR (c.version_relation = 'Extends'
             AND (lr.ts IS NULL OR (c.ts, c.seq) > (lr.ts, lr.seq)))
    )
    SELECT entity, slot, count(DISTINCT value)::bigint AS n_values,
           'Single' AS cardinality
    FROM cur WHERE slot IN ('click', 'error')
    GROUP BY entity, slot HAVING count(DISTINCT value) > 1
    """

    from .functions.porter import duck_vocab_cte, stem_py

    targets = ", ".join(f"'{stem_py(w)}'" for w in ["tables", "windows"])
    by_name["q48_stemmed_search"].oracle = f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS.format(x='text')}) AS token
      FROM documents
    ),
    dic AS MATERIALIZED
      ({duck_vocab_cte('token', 'SELECT DISTINCT token FROM toks')}),
    stemmed AS MATERIALIZED
      (SELECT t.doc_id, d.stem FROM toks t JOIN dic d USING (token)),
    counts AS (SELECT doc_id, count(DISTINCT stem)::bigint AS n_stems
               FROM stemmed GROUP BY doc_id),
    hit AS (SELECT doc_id FROM stemmed WHERE stem IN ({targets})
            GROUP BY doc_id HAVING count(DISTINCT stem) = 2)
    SELECT c.doc_id, c.n_stems FROM counts c JOIN hit USING (doc_id)
    """

    from .functions import porter2

    sb_targets = ", ".join(
        f"'{porter2.stem_py(w)}'" for w in ["merging", "queries"]
    )
    by_name["q123_snowball_search"].oracle = f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS.format(x='text')}) AS token
      FROM documents
    ),
    dic AS MATERIALIZED
      ({porter2.duck_vocab_cte('token', 'SELECT DISTINCT token FROM toks')}),
    stemmed AS MATERIALIZED
      (SELECT t.doc_id, d.stem FROM toks t JOIN dic d USING (token)),
    counts AS (SELECT doc_id, count(DISTINCT stem)::bigint AS n_stems
               FROM stemmed GROUP BY doc_id),
    hit AS (SELECT doc_id FROM stemmed WHERE stem IN ({sb_targets})
            GROUP BY doc_id HAVING count(DISTINCT stem) = 2)
    SELECT c.doc_id, c.n_stems FROM counts c JOIN hit USING (doc_id)
    """

    from .functions.embed import HashEmbedder, sql_hash_embedding

    emb_sql = sql_hash_embedding("text", dim=8)
    comps = ", ".join(f"v[{j + 1}] AS e{j}" for j in range(8))
    by_name["q36_hash_embeddings"].oracle = f"""
    WITH e AS (SELECT doc_id, {emb_sql} AS v FROM documents WHERE doc_id < 200)
    SELECT doc_id, {comps} FROM e
    """

    sem_qv = HashEmbedder(dim=8).embed_query("table window merge")
    sem_qv_lit = "[" + ", ".join(repr(x) for x in sem_qv) + "]::double[]"
    by_name["q66_semantic_rerank"].oracle = f"""
    WITH {_sql_bm25_cte(['table', 'window', 'merge'], 20)},
    nrm AS (
      SELECT doc_id, score,
        round(CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
              ELSE (score - min(score) OVER ())
                   / (max(score) OVER () - min(score) OVER ()) END, 6)
          AS norm_score
      FROM bm25hits
    ),
    emb AS (
      SELECT doc_id, round({SQL_COS.format(a='v', b=sem_qv_lit)}, 6) AS cos
      FROM (SELECT doc_id, {emb_sql} AS v FROM documents)
    ),
    c AS (
      SELECT n.doc_id, n.score, n.norm_score, e.cos,
        round(0.5 * n.norm_score + 0.5 * coalesce(e.cos, n.norm_score), 6)
          AS combined
      FROM nrm n LEFT JOIN emb e USING (doc_id)
    )
    SELECT doc_id, score, norm_score, cos, combined,
           row_number() OVER (ORDER BY combined DESC, doc_id) AS sem_rank
    FROM c
    """

    qv = HashEmbedder(dim=8, model="clip-hash-v1").embed_query("spark join merge")
    qv_lit = "[" + ", ".join(repr(x) for x in qv) + "]::double[]"
    by_name["q37_clip_crossmodal"].oracle = f"""
    WITH clip AS (
      SELECT doc_id AS vec_id, {emb_sql} AS emb
      FROM documents WHERE doc_id % 3 = 0
    ),
    scored AS (
      SELECT vec_id, round({SQL_COS.format(a='emb', b=qv_lit)}, 6) AS score
      FROM clip
    ),
    top AS (SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id
            LIMIT 10)
    SELECT vec_id, score,
           row_number() OVER (ORDER BY score DESC, vec_id) AS rank
    FROM top
    """

    from .functions.text import SQL_DEL1

    dict_del1 = SQL_DEL1.replace("tok", "word")
    by_name["q46_symspell_repair"].oracle = f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(x='text')} AS ts
                  FROM documents),
    q0 AS (SELECT doc_id, ts[1] AS t1 FROM toks),
    q AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN substr(t1, 1, 1) || substr(t1, 3)
             ELSE t1 END AS tok
      FROM q0
    ),
    dic AS (
      SELECT word, count(*)::bigint AS freq
      FROM (SELECT unnest(ts) AS word FROM toks)
      GROUP BY word HAVING count(*) >= 2
    ),
    dv AS (
      SELECT DISTINCT variant, word, freq FROM (
        SELECT unnest({dict_del1}) AS variant, word, freq FROM dic
      )
    ),
    qv AS (
      SELECT DISTINCT doc_id, tok, variant FROM (
        SELECT doc_id, tok, unnest({SQL_DEL1}) AS variant FROM q
      )
    ),
    cands AS (
      SELECT qv.doc_id, qv.tok, dv.word, dv.freq
      FROM qv JOIN dv USING (variant)
    ),
    best AS (
      SELECT doc_id, tok, word AS repaired FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id, tok
          ORDER BY (CASE WHEN word = tok THEN 1 ELSE 0 END) DESC,
                   freq DESC, word ASC) AS rn
        FROM cands
      ) WHERE rn = 1
    )
    SELECT q.doc_id, q.tok,
           coalesce(best.repaired, q.tok) AS repaired,
           (best.repaired IS NOT NULL)::int AS matched
    FROM q LEFT JOIN best USING (doc_id, tok)
    """

    from .functions.enrich import (
        NER_CONF_CONTEXT,
        NER_CONF_DEFAULT,
        ORG_SUFFIX_RE,
        TRIPLET_PATTERNS,
        ENTITY,
    )

    arms = " UNION ALL ".join(
        _sql_triplet_arm(pat, pred) for pat, pred in TRIPLET_PATTERNS
    )
    by_name["q44_spo_triplets"].oracle = f"WITH {SQL_SENTENCES} {arms}"

    ctx = (
        f"regexp_matches(entity, '{ORG_SUFFIX_RE}') "
        "OR contains(sentence, 'at ' || entity) "
        "OR contains(sentence, 'in ' || entity)"
    )
    ner_core = f"""
    {SQL_SENTENCES},
    tk AS (SELECT doc_id, sentence, unnest(str_split(sentence, ' ')) AS raw
           FROM s),
    cand AS (
      SELECT doc_id, sentence,
        coalesce(regexp_extract(raw, '^({ENTITY})', 1), '') AS entity
      FROM tk
    ),
    ents AS (
      SELECT DISTINCT doc_id, entity,
        CASE WHEN regexp_matches(entity, '{ORG_SUFFIX_RE}') THEN 'ORG'
             WHEN contains(sentence, 'at ' || entity) THEN 'ORG'
             WHEN contains(sentence, 'in ' || entity) THEN 'LOC'
             ELSE 'PER' END AS kind,
        CASE WHEN {ctx} THEN {NER_CONF_CONTEXT}::double
             ELSE {NER_CONF_DEFAULT}::double END AS confidence
      FROM cand WHERE entity <> ''
    )
    """
    by_name["q45_ner_entities"].oracle = f"""
    WITH {ner_core}
    SELECT doc_id, entity, kind, confidence FROM ents
    """
    by_name["q67_entity_decoration"].oracle = f"""
    WITH {ner_core},
    hits AS (SELECT doc_id FROM documents
             ORDER BY n_chars DESC, doc_id LIMIT 10)
    SELECT h.doc_id, e.entity, e.kind
    FROM hits h JOIN ents e USING (doc_id)
    """

    by_name["q93_entity_canonicalization"].oracle = f"""
    WITH {ner_core},
    keyed AS (
      SELECT doc_id, entity, kind, confidence,
             lower(trim(entity)) AS canonical
      FROM ents
    ),
    by_form AS (
      SELECT canonical, entity, kind, count(*)::bigint AS n,
             count(DISTINCT doc_id)::bigint AS nf, max(confidence) AS c
      FROM keyed GROUP BY canonical, entity, kind
    ),
    ranked AS (
      SELECT *,
        first_value(entity) OVER (PARTITION BY canonical
                                  ORDER BY n DESC, entity) AS display_name,
        first_value(kind) OVER (PARTITION BY canonical
                                ORDER BY n DESC, kind) AS top_kind
      FROM by_form
    )
    SELECT canonical, min(display_name) AS display_name,
           min(top_kind) AS kind, sum(n)::bigint AS n_mentions,
           sum(nf)::bigint AS n_frames, round(max(c), 6) AS confidence
    FROM ranked GROUP BY canonical
    """

    from .functions.extract import ISO_DATE_RE

    by_name["q92_enrichment_pipeline"].oracle = f"""
    WITH {ner_core},
    trips AS ({arms}),
    tc AS (SELECT doc_id, count(*)::bigint AS n_triplets FROM trips
           GROUP BY doc_id),
    ec AS (SELECT doc_id, count(DISTINCT entity)::bigint AS n_entities
           FROM ents GROUP BY doc_id),
    base AS (
      SELECT doc_id,
        len({sql_auto_tags('text')}) AS n_tags,
        len(regexp_extract_all(text, '{ISO_DATE_RE}', 0)) AS n_dates
      FROM documents
    )
    SELECT b.doc_id, b.n_tags, b.n_dates,
           coalesce(ec.n_entities, 0) AS n_entities,
           coalesce(tc.n_triplets, 0) AS n_triplets,
           'Enriched' AS enrichment_state
    FROM base b LEFT JOIN ec USING (doc_id) LEFT JOIN tc USING (doc_id)
    """

    from .functions.text import sql_mojibake_count, sql_repair_mojibake

    art = "á".encode("utf-8").decode("latin-1")

    # q155: cleaned-documents CTE (corrupt → repair → paragraph-dedup)
    # shadowing the documents view, then q104's oracle text VERBATIM on
    # top. DuckDB flags a same-named CTE body reference as circular, so
    # the inner read is schema-qualified (main.documents = the view).
    q104_sql = by_name["q104_quality_gates"].oracle.strip()
    assert q104_sql.startswith("WITH ")
    by_name["q155_curation_pipeline"].oracle = f"""
    WITH documents AS (
      WITH dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                 THEN replace(replace(text, 'ma', 'má'), 'á', '{art}')
                      || chr(10)
                      || replace(replace(text, 'ma', 'má'), 'á', '{art}')
                 ELSE text END AS text
        FROM main.documents
      ),
      repaired AS (
        SELECT doc_id, {sql_repair_mojibake('text')} AS text FROM dirty
      ),
      segs AS (SELECT doc_id, string_split(text, chr(10)) AS s FROM repaired)
      SELECT doc_id,
             array_to_string(
               list_filter(s, (x, i) -> length(x) < 1
                                        OR list_position(s, x) = i),
               chr(10)) AS text
      FROM segs
    ),
    {q104_sql[5:]}
    """

    by_name["q150_mojibake_repair"].oracle = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             replace(replace(text, 'ma', 'má'), 'á', '{art}') AS text
      FROM documents WHERE doc_id < 60
    )
    SELECT doc_id, {sql_mojibake_count('text')} AS n_artifacts,
           length(text) AS len_before,
           length({sql_repair_mojibake('text')}) AS len_after,
           sha256({sql_repair_mojibake('text')}) AS repaired_sha
    FROM corpus
    """

    by_name["q169_late_interaction"].oracle = f"""
    WITH c AS (SELECT vec_id // 4 AS doc_id, embedding::double[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding::double[] AS qv
          FROM embeddings WHERE vec_id IN (1, 2, 3)),
    s AS (SELECT c.doc_id, q.q_id,
                 max(round({SQL_COS.format(a='c.v', b='q.qv')}
                           * 1000000)::bigint) AS ms
          FROM c, q GROUP BY c.doc_id, q.q_id),
    d AS (SELECT doc_id, sum(ms)::bigint AS score_micro
          FROM s GROUP BY doc_id)
    SELECT doc_id, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
    FROM d ORDER BY score_micro DESC, doc_id LIMIT 20
    """

    by_name["q177_sketch_candidates"].oracle = _sketch_candidates_oracle()
    by_name["q160_pii_incidence"].oracle = _q160_oracle()
    q161_sql = _q161_sql()
    by_name["q161_quality_classifier"].oracle = q161_sql
    by_name["q162_classifier_eval"].oracle = f"""
    WITH scored AS ({q161_sql})
    SELECT label, pred, count(*)::bigint AS n
    FROM scored WHERE split = 'eval' GROUP BY label, pred
    """


_computed_oracles()


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.fn for s in SPECS}


def all_oracles() -> dict[str, str]:
    return {s.name: s.oracle for s in SPECS if s.oracle is not None}
