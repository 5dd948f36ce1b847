"""Text scalar functions — tokenizer, stopwords, quality metrics.

Reference semantics: memvid tokenizes by splitting on non-alphanumerics and
lowercasing (src/types/sketch_track.rs:650-666, src/lex.rs:156). The same
tokenizer MUST be used on both the index build path and the query path
(SURVEY §4 "stemming at index AND query time must agree") — so it lives
here, once, as a pure Column expression (JVM-side, whole-stage codegen;
no Python UDF in the hot path).

Every function here has an exact ANSI-SQL twin used by the DuckDB oracle
(see registry.py) — changes must keep the two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Full reference stopword catalog (src/memvid/ask.rs is_stopword,
# :879-899) — the exact 77-entry list; "it's" never survives the alnum
# tokenizer but is kept for list fidelity.
STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "been", "being", "but", "by",
    "does", "do", "did", "else", "for", "from", "had", "have", "has", "he",
    "her", "here", "hers", "him", "his", "how", "i", "if", "in", "is", "it",
    "its", "it's", "many", "me", "mine", "more", "most", "much", "my", "no",
    "not", "of", "on", "or", "our", "ours", "she", "so", "that", "the",
    "their", "them", "there", "these", "they", "this", "those", "through",
    "to", "us", "was", "we", "were", "what", "when", "where", "which", "who",
    "whom", "why", "with", "you", "your", "yours",
]


def tokens(col: Column | str) -> Column:
    """Lowercased alnum tokens; empty strings dropped.

    Twin SQL: list_filter(string_split_regex(lower(x),'[^a-z0-9]+'), t -> t<>'')

    Implementation (round 12): ``array_remove(split(lower(x), RE), '')``
    instead of the higher-order ``filter(..., x -> x != '')``. The two
    are value-identical here — with a ``+``-quantified separator regex,
    ''-elements can only appear at the array ends, split never yields
    null elements, and array_remove drops exactly the ''s — but filter()
    is CodegenFallback (interpreted per element, excluded from
    whole-stage codegen) while array_remove compiles. Measured on the
    100x corpus, interleaved min-vs-min: explode-consumer 32.5 → 22.0
    cpu_s, array-consumer wall 0.95 → 0.82 s (scratch/
    ab_tokenize_ar_r12.py; 0 differing arrays over 500k docs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SPLIT_RE), "")


def pin_expr(expr: Column) -> Column:
    """Determinism-taint a Column WITHOUT changing its value, so the
    optimizer can neither inline it into each consumer (CollapseProject
    re-duplicates a non-cheap producer referenced once) nor substitute
    it into a pushed-down filter predicate (PushDownPredicates inlines
    the whole defining subtree into the condition, re-evaluating it at
    the scan). The guide's §4.4 asNondeterministic() remedy, for a
    builtin expression tree: spark_partition_id() is nondeterministic
    to the optimizer but the branch is always taken, so the value is
    identical. (A rand()-based probe does NOT survive: Spark 4 folds
    rand() comparisons against out-of-range constants.)

    Measured motive: higher-order functions (filter/exists/transform)
    are CodegenFallback and excluded from subexpression elimination, so
    every reference to a ``tokens()``-derived expression re-runs the
    full regex split of the document — the bm25 'per' projection paid
    it 4x per row and a pushed-down match filter 8x (see
    scratch/plan_shape_tokenize.py; plans/r11)."""
    return F.when(F.spark_partition_id() >= F.lit(-1), expr)


def tokens_pinned(col: Column | str) -> Column:
    """``tokens()`` wrapped in :func:`pin_expr` — alias it ONCE in a
    narrow select, then derive every per-term/per-rule consumer from
    the materialized column so the tokenizer runs once per row per
    scan no matter how many expressions or downstream filters read
    it."""
    return pin_expr(tokens(col))


def ngram_rows(
    docs,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    with_pos: bool = False,
):
    """One row per word n-gram POSITION (duplicates kept):
    (id, [keep_cols...], [pos,] gram) with gram = n space-joined tokens
    and pos 1-based.

    The construction is arrays_zip over the token array and its n-1
    shifted slices, exploded, with the gram string concatenated AFTER
    the explode — every step stays inside whole-stage codegen. The
    equivalent higher-order ``transform(sequence(...), i ->
    array_join(slice(...)))`` runs the lambda interpreted per element
    and measured 16x slower at the 100x bench probe. Docs shorter than
    n tokens yield zero rows (the zip pads missing tail slots with
    null; the filter on the last slot drops them).
    """
    toked = docs.select(F.col(id_col), *keep_cols, tokens(text_col).alias("_toks"))
    sz = F.size(F.col("_toks"))
    zipped = F.arrays_zip(
        F.col("_toks").alias("g0"),
        *[
            F.slice("_toks", d + 1, F.greatest(sz - d, F.lit(0))).alias(f"g{d}")
            for d in range(1, n)
        ],
    )
    if with_pos:
        ex = toked.select(
            F.col(id_col), *keep_cols, F.posexplode(zipped).alias("_i", "_z")
        )
        pos_cols = [(F.col("_i") + 1).alias("pos")]
    else:
        ex = toked.select(F.col(id_col), *keep_cols, F.explode(zipped).alias("_z"))
        pos_cols = []
    return (
        ex.filter(F.col(f"_z.g{n - 1}").isNotNull())
        .select(
            F.col(id_col),
            *keep_cols,
            *pos_cols,
            F.concat_ws(" ", *[f"_z.g{d}" for d in range(n)]).alias("gram"),
        )
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_count(col: Column | str) -> Column:
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(tokens(col), lambda x: F.array_contains(stop, x)))


def punct_ratio(col: Column | str) -> Column:
    """Share of characters that are not [a-zA-Z0-9 ].

    Twin SQL: length(regexp_replace(x,'[a-zA-Z0-9 ]','','g')) / nullif(length(x),0)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", "")) / F.nullif(
        F.length(c), F.lit(0)
    )


def avg_token_len(col: Column | str) -> Column:
    """Mean token length (NULL for token-free text).

    Twin SQL uses the same two aggregates: sum(len)/nullif(count,0).
    """
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.nullif(F.size(t), F.lit(0)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Deterministic doc-quality heuristic in [0,1]:

    0.5 * clamp(token_count/100) + 0.3 * (1 - stopword_ratio) + 0.2 * (1 - punct_ratio)

    Mirrors the reference's ingest-side quality gates (skip empty/huge
    payloads, src/memvid/search/api.rs:938-1034) generalized into a score.
    """
    tc = token_count(col).cast("double")
    stop_ratio = stopword_count(col) / F.nullif(tc, F.lit(0.0))
    pr = punct_ratio(col)
    return F.round(
        F.least(tc / F.lit(100.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.coalesce(stop_ratio, F.lit(0.0))) * 0.3
        + (F.lit(1.0) - F.coalesce(pr, F.lit(0.0))) * 0.2,
        6,
    )


def lang_guess(col: Column | str) -> Column:
    """N-gram-free language heuristic: English stopword density.

    A real deployment plugs a fastText/CLD model in via pandas UDF; the
    correctness-tier heuristic is deterministic and SQL-expressible.
    """
    tc = token_count(col).cast("double")
    ratio = stopword_count(col) / F.nullif(tc, F.lit(0.0))
    return F.when(F.coalesce(ratio, F.lit(0.0)) >= 0.05, F.lit("en")).otherwise(
        F.lit("other")
    )


# --- SQL twins (kept adjacent so drift is visible in review) -----------------

SQL_TOKENS = "list_filter(string_split_regex(lower({x}),'[^a-z0-9]+'), t -> t<>'')"
SQL_STOPWORDS_LIST = (
    "[" + ",".join("'" + s.replace("'", "''") + "'" for s in STOPWORDS) + "]"
)



# ---------------------------------------------------------------------------
# SymSpell-style token repair (src/symspell_cleanup.rs, 496 LoC)
# ---------------------------------------------------------------------------

# delete-1 variant set of a token column named `tok` (the word itself plus
# every single-character deletion) — shared shape with the SQL twin below.
DEL1_EXPR = (
    "array_union(array(tok), transform(sequence(1, length(tok)), "
    "i -> concat(substr(tok, 1, i - 1), substr(tok, i + 1))))"
)

SQL_DEL1 = (
    "list_distinct(list_concat([tok], "
    "list_transform(generate_series(1, length(tok)), "
    "i -> substr(tok, 1, i - 1) || substr(tok, i + 1))))"
)


def corpus_dictionary(docs, id_col="doc_id", text_col="text", min_freq=2):
    """(word, freq) frequency dictionary derived from the corpus itself
    (the reference ships a static 82k-word list; same role)."""
    from pyspark.sql import functions as F

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )


def symspell_repair(queries, dictionary):
    """SymSpell edit-distance-1 repair, entirely relational.

    Classic SymSpell: precompute DELETE-1 variants of every dictionary
    word; a token matches a word iff their variant sets intersect
    (covers one substitution, insertion, or deletion). Variant
    generation is transform+explode, matching is an equi-join on the
    variant, candidate ranking is (freq DESC, word ASC). In-dictionary
    tokens repair to themselves.

    ``queries``: (doc_id, tok); ``dictionary``: (word, freq).
    Output: (doc_id, tok, repaired, matched) — matched=1 when a
    dictionary candidate (or exact hit) was found.

    Scale: |dict|×len variant table is built once (a derived table at
    warehouse scale); the probe side only explodes query tokens. Both
    joins are equi-joins — the dictionary side broadcasts when small.
    """
    from pyspark.sql import Window, functions as F

    dv = (
        dictionary.select(
            F.col("word").alias("tok"), F.col("word"), F.col("freq")
        )
        .select(F.explode(F.expr(DEL1_EXPR)).alias("variant"), "word", "freq")
        .distinct()
    )
    qv = queries.select(
        "doc_id", "tok", F.explode(F.expr(DEL1_EXPR)).alias("variant")
    ).distinct()
    cands = qv.join(dv, "variant").select("doc_id", "tok", "word", "freq")
    w = Window.partitionBy("doc_id", "tok").orderBy(
        F.col("exact").desc(), F.col("freq").desc(), F.col("word").asc()
    )
    best = (
        cands.withColumn("exact", (F.col("word") == F.col("tok")).cast("int"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "tok", F.col("word").alias("repaired"))
    )
    return (
        queries.join(best, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "tok",
            F.coalesce("repaired", F.col("tok")).alias("repaired"),
            F.col("repaired").isNotNull().cast("int").alias("matched"),
        )
    )


def normalize_text(col):
    """normalize_text (src/text.rs): lowercase, trim, collapse internal
    whitespace runs — pure column expressions."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def truncate_graphemes(col, n: int):
    """Grapheme-safe truncation (src/text.rs grapheme clusters;
    src/lib.rs:193): never split a base character from its combining
    marks. Arrow-batched pandas UDF using unicodedata — byte/codepoint
    `substring` would cut 'e' off its accent; this walks cluster
    boundaries (combining-class 0 starts a cluster)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def cut(s):
        import unicodedata

        def one(x):
            if x is None:
                return None
            out, clusters = [], 0
            for ch in x:
                if unicodedata.combining(ch) == 0:
                    clusters += 1
                    if clusters > n:
                        break
                out.append(ch)
            return "".join(out)

        return s.map(one)

    cut_udf = pandas_udf(cut, "string")
    return cut_udf(F.col(col) if isinstance(col, str) else col)


# ---------------------------------------------------------------------------
# Stemming (index AND query side — src/search/tantivy/schema.rs:7-14,
# query side src/memvid/search/tantivy.rs:38-46)
# ---------------------------------------------------------------------------

# Porter-style first-match suffix rules: (suffix, replacement, min_stem_len).
# The "ss" identity rule stops the chain so the bare "s" rule cannot
# mangle 'less' → 'les'. ONE constant drives the Column expression, the
# SQL twin, and the driver-side query stemmer — parity by construction.
STEM_RULES: list[tuple[str, str, int]] = [
    ("ational", "ate", 2),
    ("tional", "tion", 2),
    ("ization", "ize", 2),
    ("fulness", "ful", 2),
    ("sses", "ss", 1),
    ("ies", "i", 1),
    ("ss", "ss", 0),
    ("ing", "", 3),
    ("edly", "", 3),
    ("ed", "", 3),
    ("s", "", 3),
]  # step-1a shape: a bare 'es' rule would over-strip ('tables'→'tabl')


def stem(col):
    """First-matching-rule stemmer as a nested CASE chain (codegen,
    no Python)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = c  # default: unchanged
    for suffix, repl, min_len in reversed(STEM_RULES):
        keep = F.length(c) - len(suffix)
        cond = c.endswith(suffix) & (keep >= min_len)
        expr = F.when(cond, F.concat(c.substr(F.lit(1), keep), F.lit(repl))).otherwise(
            expr
        )
    return expr


def sql_stem(e: str) -> str:
    """DuckDB twin of :func:`stem` (same rule order)."""
    out = e
    for suffix, repl, min_len in reversed(STEM_RULES):
        n = len(suffix)
        cond = (
            f"(({e}) LIKE '%{suffix}' AND length({e}) - {n} >= {min_len})"
        )
        then = f"substr({e}, 1, length({e}) - {n}) || '{repl}'"
        out = f"CASE WHEN {cond} THEN {then} ELSE {out} END"
    return out


def stem_py(word: str) -> str:
    """Driver-side twin for query-term stemming."""
    for suffix, repl, min_len in STEM_RULES:
        if word.endswith(suffix) and len(word) - len(suffix) >= min_len:
            return word[: len(word) - len(suffix)] + repl
    return word


# ---------------------------------------------------------------------------
# Mojibake repair (web-text cleaning tier; the ftfy top fixes).
#
# UTF-8 bytes decoded as Windows-1252/Latin-1 leave characteristic
# artifact sequences ("A-tilde copyright" where an e-acute was meant,
# "a-circumflex euro right-quote" for a right single quote). The catalog
# is GENERATED from the intended characters by replaying the faulty
# decode ("sloppy cp1252": cp1252 where defined, latin-1 control
# fallback otherwise -- exactly how the corruption arises), so the
# artifact strings never appear literally in source. Spark chain, DuckDB
# SQL and the Python twin are all emitted from the same catalog (the
# Porter pattern -- parity by construction). No entry is a prefix of
# another (3-byte artifacts all start with a-circumflex, 2-byte with
# A-tilde / A-circumflex), so application order cannot matter.
# ---------------------------------------------------------------------------

def _sloppy_cp1252(b: bytes) -> str:
    out = []
    for x in b:
        try:
            out.append(bytes([x]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(x))  # latin-1 keeps C1 controls verbatim
    return "".join(out)


MOJIBAKE_TARGETS = (
    "\u2019\u201c\u201d\u2013\u2014\u2026"  # quotes, dashes, ellipsis
    "\u00e1\u00e9\u00ed\u00f3\u00fa\u00f1"  # a e i o u acute, n tilde
    "\u00fc\u00f6\u00e4\u00df\u00e8\u00ea\u00e7"  # umlauts, grave, cedilla
    "\u00a0"  # non-breaking space artifact
)

MOJIBAKE_MAP: list[tuple[str, str]] = [
    (_sloppy_cp1252(ch.encode("utf-8")), ch) for ch in MOJIBAKE_TARGETS
]


def repair_mojibake(col: Column | str) -> Column:
    """Apply every catalog fix (JVM-side chained replace)."""
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_MAP:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def mojibake_count(col: Column | str) -> Column:
    """Number of artifact occurrences (per-pattern length-delta trick;
    valid because catalog entries never overlap)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for bad, _ in MOJIBAKE_MAP:
        total = total + (
            (F.length(c) - F.length(F.replace(c, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        )
    return total.cast("long")


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Under the default
    ``spark.sql.parser.escapedStringLiterals=false`` a backslash starts an
    escape, so it doubles before the quote does (``a\\'b`` → ``'a\\\\''b'``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _duckdb_str(s: str) -> str:
    """``s`` as a DuckDB string literal (backslash is not an escape)."""
    return "'" + s.replace("'", "''") + "'"


def sql_repair_mojibake(e: str) -> str:
    """DuckDB twin of :func:`repair_mojibake`."""
    out = e
    for bad, good in MOJIBAKE_MAP:
        out = f"replace({out}, {_duckdb_str(bad)}, {_duckdb_str(good)})"
    return out


def sql_mojibake_count(e: str) -> str:
    """DuckDB twin of :func:`mojibake_count`."""
    parts = [
        f"((length({e}) - length(replace({e}, {_duckdb_str(bad)}, ''))) "
        f"// {len(bad)})"
        for bad, _ in MOJIBAKE_MAP
    ]
    return "(" + " + ".join(parts) + ")::bigint"


def repair_mojibake_py(text: str) -> str:
    """Driver-side twin (query strings, tests)."""
    for bad, good in MOJIBAKE_MAP:
        text = text.replace(bad, good)
    return text
