"""Semantic unit tests on crafted inputs — reference-behavior checks that
the synthetic-corpus oracles can't pin down."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_current_cards_retraction_hides_slot(spark):
    from memvid_spark.operators.memory import current_cards

    cards = spark.createDataFrame(
        [
            ("u1", "color", "red", "Updates", 100, 1),
            ("u1", "color", "blue", "Updates", 200, 2),
            ("u1", "city", "paris", "Updates", 100, 3),
            ("u1", "city", "paris", "Retracts", 300, 4),
            ("u2", "color", "green", "Extends", 100, 5),
        ],
        "entity string, slot string, value string, version_relation string, ts long, seq long",
    )
    cur = {(r.entity, r.slot): r.value for r in current_cards(cards).collect()}
    assert cur == {("u1", "color"): "blue", ("u2", "color"): "green"}
    # ("u1","city") absent: latest card retracts the slot


def test_memory_at_time_sees_pre_retraction_state(spark):
    from memvid_spark.operators.memory import cards_from_events, memory_at_time  # noqa: F401
    from memvid_spark.operators.memory import current_cards, memory_at_time

    cards = spark.createDataFrame(
        [
            ("u1", "city", "paris", "Updates", 100, 1),
            ("u1", "city", "paris", "Retracts", 300, 2),
        ],
        "entity string, slot string, value string, version_relation string, ts long, seq long",
    )
    asof = {(r.entity, r.slot): r.value for r in memory_at_time(cards, 200).collect()}
    assert asof == {("u1", "city"): "paris"}
    assert current_cards(cards).count() == 0


def test_score_cliff_cuts_before_first_cliff(spark):
    from memvid_spark.operators.adaptive import score_cliff

    hits = spark.createDataFrame(
        [(1, 10.0), (2, 9.0), (3, 8.5), (4, 2.0), (5, 1.9)],
        "doc_id long, score double",
    )
    kept = sorted(r.doc_id for r in score_cliff(hits, drop_ratio=0.5).collect())
    assert kept == [1, 2, 3]  # 2.0 < 0.5*8.5 → cliff at rank 4


def test_score_cliff_no_cliff_keeps_all(spark):
    from memvid_spark.operators.adaptive import score_cliff

    hits = spark.createDataFrame(
        [(1, 10.0), (2, 9.0), (3, 8.0)], "doc_id long, score double"
    )
    assert score_cliff(hits, drop_ratio=0.5).count() == 3


def test_relative_threshold(spark):
    from memvid_spark.operators.adaptive import relative_threshold

    hits = spark.createDataFrame(
        [(1, 10.0), (2, 6.0), (3, 4.0)], "doc_id long, score double"
    )
    kept = sorted(r.doc_id for r in relative_threshold(hits, frac=0.5).collect())
    assert kept == [1, 2]


def test_mesh_follow_min_hop_and_direction(spark):
    from memvid_spark.operators.mesh import follow

    edges = spark.createDataFrame(
        [
            ("a", "b", "L"),
            ("b", "c", "L"),
            ("a", "c", "L"),  # c reachable at hop 1 AND hop 2 → min 1
            ("x", "a", "L"),
        ],
        "src string, dst string, link_type string",
    )
    starts = spark.createDataFrame([("a",)], "node_id string")
    got = {r.node_id: r.hop for r in follow(edges, starts, hops=2).collect()}
    assert got == {"b": 1, "c": 1}
    got_in = {r.node_id: r.hop for r in follow(edges, starts, hops=2, direction="in").collect()}
    assert got_in == {"x": 1}


def test_plan_query_modes():
    from memvid_spark.operators.mesh import plan_query

    assert plan_query("who is connected to acme").mode == "graph_only"
    assert plan_query("docs similar to this report").mode == "vector_only"
    assert plan_query("who is connected to something similar").mode == "hybrid"


def test_dimension_contract(spark):
    """Embedding dimension enforced at write (mutation.rs:3329-3349)."""
    from memvid_spark.operators.knn import knn

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    top = knn(emb, [1.0, 0.0], k=1)
    assert top.collect()[0].vec_id == 1


def test_bloom_no_false_negatives(spark):
    """Every doc truly containing the query tokens must pass the filter
    (sketch_track.rs contract: Bloom filters never miss)."""
    from pyspark.sql import functions as F

    from memvid_spark.functions.text import tokens
    from memvid_spark.operators.dedup import bloom_prefilter, term_bloom_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    blooms = term_bloom_table(docs)
    passed = {r.doc_id for r in bloom_prefilter(blooms, ["spark", "join"]).collect()}
    truth = {
        r.doc_id
        for r in docs.filter(
            F.array_contains(tokens("text"), "spark")
            & F.array_contains(tokens("text"), "join")
        ).collect()
    }
    assert truth <= passed


def test_promote_extremes_guarantees_bounds(spark):
    from pyspark.sql import functions as F

    from memvid_spark.operators.ask import promote_extremes

    pool = spark.createDataFrame(
        [(i, 1000 + i, float(i % 7)) for i in range(50)],
        "doc_id long, ts long, value double",
    )
    hits = pool.orderBy(F.col("value").desc(), "doc_id").limit(5)
    out = promote_extremes(hits, pool, ts_col="ts", id_col="doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 49 in ids  # earliest + latest guaranteed
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_triplets_feed_mesh_follow(spark):
    """Extraction → mesh edges → bounded-hop traversal end to end
    (extractor.rs output feeding logic_mesh.rs adjacency)."""
    from memvid_spark.functions.enrich import edges_from_triplets, spo_triplets
    from memvid_spark.operators.mesh import follow

    docs = spark.createDataFrame(
        [(1, "Alice works at AcmeCorp. Bob lives in Paris. Carol likes Bob.")],
        "doc_id long, sentence string",
    )
    trips = spo_triplets(docs)
    got = {(r.subject, r.predicate, r.object) for r in trips.collect()}
    assert ("Alice", "WorksAt", "AcmeCorp") in got
    assert ("Bob", "LivesIn", "Paris") in got
    assert ("Carol", "Likes", "Bob") in got
    edges = edges_from_triplets(trips)
    starts = spark.createDataFrame([("Carol",)], "node_id string")
    # Carol -likes-> Bob -lives in-> Paris: 2 hops
    reached = {r.node_id: r.hop for r in follow(edges, starts, hops=2).collect()}
    assert reached == {"Bob": 1, "Paris": 2}


def test_symspell_repairs_known_corruptions(spark):
    from memvid_spark.functions.text import symspell_repair

    dic = spark.createDataFrame(
        [("table", 50), ("tables", 10), ("cable", 5)], "word string, freq long"
    )
    q = spark.createDataFrame(
        [(1, "tble"),    # deletion of 'a' → table (freq beats cable path)
         (2, "table"),   # exact: repairs to itself even though tables exists
         (3, "tablex"),  # insertion → table
         (4, "zzz")],    # no candidate → unchanged, matched=0
        "doc_id long, tok string",
    )
    out = {r.doc_id: (r.repaired, r.matched) for r in symspell_repair(q, dic).collect()}
    assert out[1] == ("table", 1)
    assert out[2] == ("table", 1)
    assert out[3] == ("table", 1)
    assert out[4] == ("zzz", 0)


def test_candidate_intersection_short_circuits(spark):
    """An empty pruner must empty the result regardless of later
    pruners (mod.rs empty-exit at each stage)."""
    from memvid_spark.operators.candidates import intersect_candidates

    base = spark.createDataFrame([(i, i * 10) for i in range(20)],
                                 "doc_id long, n long")
    a = base.filter("doc_id >= 5").select("doc_id")
    empty = base.filter("doc_id < 0").select("doc_id")
    b = base.filter("doc_id < 100").select("doc_id")
    out = intersect_candidates(base, a, empty, b)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n"]
    kept = intersect_candidates(base, a, b)
    assert kept.count() == 15


def test_current_values_multivalue_semantics(spark):
    """Updates replaces the value set, Extends accumulates, Retracts
    clears (memory_card.rs:76-90 relation algebra)."""
    from memvid_spark.operators.memory import cardinality_violations, current_values

    cards = spark.createDataFrame(
        [
            ("u1", "tag", "a", "Updates", 100, 1),
            ("u1", "tag", "b", "Extends", 200, 2),
            ("u1", "tag", "c", "Extends", 300, 3),   # u1.tag = {a,b,c}
            ("u2", "tag", "a", "Extends", 100, 4),
            ("u2", "tag", "z", "Updates", 200, 5),   # reset: u2.tag = {z}
            ("u3", "tag", "a", "Extends", 100, 6),
            ("u3", "tag", "x", "Retracts", 200, 7),  # cleared: u3.tag = {}
            ("u3", "tag", "d", "Extends", 300, 8),   # re-extended: {d}
        ],
        "entity string, slot string, value string, version_relation string, ts long, seq long",
    )
    cur = {}
    for r in current_values(cards).collect():
        cur.setdefault((r.entity, r.slot), set()).add(r.value)
    assert cur[("u1", "tag")] == {"a", "b", "c"}
    assert cur[("u2", "tag")] == {"z"}
    assert cur[("u3", "tag")] == {"d"}
    reg = spark.createDataFrame([("tag", "Single")], "slot string, cardinality string")
    v = {(r.entity, r.slot): r.n_values for r in
         cardinality_violations(cards, reg).collect()}
    assert v == {("u1", "tag"): 3}  # only u1 violates Single


def test_elbow_kneedle_cutoff(spark):
    """Kneedle elbow (adaptive.rs:604-657) on a plateau-cliff-tail curve:
    normalized scores [1, .989, .978, .462, .032, ...0], chord from
    (0,1) to (1,0); the sensitivity-adjusted distance peaks at 0-based
    index 4 (the knee at the bottom of the big drop) -> keep 5 rows."""
    from memvid_spark.operators.adaptive import elbow

    scores = [100.0, 99.0, 98.0, 50.0, 10.0, 9.0, 8.0, 7.0]
    hits = spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "doc_id long, score double"
    )
    kept = sorted(r.doc_id for r in elbow(hits, sensitivity=1.0).collect())
    assert kept == [0, 1, 2, 3, 4]
    # flat curve: no significant elbow, keep everything
    flat = spark.createDataFrame(
        [(i, 5.0) for i in range(6)], "doc_id long, score double"
    )
    assert elbow(flat).count() == 6
    # n < 3: too few points to bend, keep everything
    tiny = spark.createDataFrame([(0, 9.0), (1, 1.0)], "doc_id long, score double")
    assert elbow(tiny).count() == 2


def test_adaptive_cutoff_evaluate_driver(spark):
    """AdaptiveConfig.evaluate semantics (adaptive.rs:504-552): min-max
    normalization, per-strategy min_results floor, max_results cap."""
    from memvid_spark.operators.adaptive import adaptive_cutoff

    scores = [100.0, 90.0, 80.0, 20.0, 15.0, 10.0]
    hits = spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "doc_id long, score double"
    )
    # absolute on NORMALIZED scores: min_score=0.5 keeps y >= 0.5
    # y = (s-10)/90 -> [1.0, .889, .778, .111, .056, 0]
    kept = sorted(
        r.doc_id for r in adaptive_cutoff(hits, "absolute", min_score=0.5).collect()
    )
    assert kept == [0, 1, 2]
    # min_results floor: even an impossible threshold keeps the top rows
    floor = sorted(
        r.doc_id
        for r in adaptive_cutoff(hits, "absolute", min_score=2.0, min_results=2).collect()
    )
    assert floor == [0, 1]
    # max_results cap wins over a permissive strategy
    capped = adaptive_cutoff(hits, "relative", frac=0.0, max_results=4).count()
    assert capped == 4
    # cliff on normalized curve: .778 -> .111 is an 86% drop (> 50%)
    cliff = sorted(r.doc_id for r in adaptive_cutoff(hits, "cliff").collect())
    assert cliff == [0, 1, 2]
    # combined = earliest trigger among the three prefixes
    comb = sorted(r.doc_id for r in adaptive_cutoff(hits, "combined").collect())
    assert comb == [0, 1, 2]


def test_pagerank_scaled_hand_graph(spark):
    """3-node chain + cycle with hand-computed integer trajectory:
    a->b, b->c, c->a plus a->c (a splits its vote)."""
    from memvid_spark.operators.mesh import pagerank_scaled

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0)], "src long, dst long"
    )
    r1 = {r["node"]: r["rank"]
          for r in pagerank_scaled(edges, nodes, n_iter=1).collect()}
    # start 1_000_000 each; outdeg a=2, b=1, c=1
    # a <- c: 150000 + 85*1000000//100 = 1000000
    # b <- a/2: 150000 + 85*500000//100 = 575000
    # c <- a/2 + b: 150000 + 85*(500000+1000000)//100 = 1425000
    assert r1 == {0: 1000000, 1: 575000, 2: 1425000}
    r2 = {r["node"]: r["rank"]
          for r in pagerank_scaled(edges, nodes, n_iter=2).collect()}
    assert r2[1] == 150000 + 85 * (1000000 // 2) // 100  # from a only
    # node with no in-edges gets only the base
    nodes4 = spark.createDataFrame([(0,), (1,), (2,), (3,)], "node long")
    r = {r["node"]: r["rank"]
         for r in pagerank_scaled(edges, nodes4, n_iter=1).collect()}
    assert r[3] == 150000


def test_late_interaction_maxsim_hand_computed(spark):
    """MaxSim semantics: each query vector scores its BEST chunk; doc
    score sums those maxima. Doc 1's first chunk matches q1 exactly and
    its second matches q2 exactly -> score 2.0; doc 2 only half-matches
    either query."""
    from memvid_spark.operators.knn import late_interaction_topk

    chunks = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (1, [0.0, 1.0]),   # doc 1: both axes
            (2, [1.0, 1.0]),                     # doc 2: diagonal only
        ],
        "doc_id long, embedding array<double>",
    )
    qvs = spark.createDataFrame(
        [(101, [1.0, 0.0]), (102, [0.0, 1.0])],
        "q_id long, qv array<double>",
    )
    out = late_interaction_topk(chunks, qvs, k=5).collect()
    scores = {r.doc_id: r.score_micro for r in out}
    assert scores[1] == 2_000_000  # 1.0 + 1.0
    # doc 2: cos(diag, axis) = 1/sqrt(2) per query
    assert scores[2] == 2 * round(1_000_000 / 2**0.5)
    assert [r.doc_id for r in out] == [1, 2]
    assert [r.rank for r in out] == [1, 2]


def test_bm25f_title_weight_changes_ranking(spark):
    """A term in the title must outrank the same term deeper in an
    otherwise-identical doc; with title_weight=1 the field split is a
    no-op and scores equal plain BM25 on the same corpus."""
    from memvid_spark.operators.search import bm25_topk, bm25f_topk

    docs = spark.createDataFrame(
        [
            (1, "spark engine notes intro spark body filler words here"),
            (2, "engine notes intro filler spark body spark words here"),
            (3, "unrelated content entirely about gardening and soil"),
        ],
        "doc_id long, text string",
    )
    out = bm25f_topk(docs, ["spark"], k=3, title_tokens=4, title_weight=3)
    rows = out.collect()
    assert [r.doc_id for r in rows][:2] == [1, 2]  # title hit wins
    # degenerate weight: BM25F(w=1) == plain BM25 (same wtf, same wdl)
    f1 = {r.doc_id: r.score for r in bm25f_topk(
        docs, ["spark"], k=3, title_tokens=4, title_weight=1).collect()}
    plain = {r.doc_id: r.score for r in bm25_topk(
        docs, ["spark"], k=3).collect()}
    assert f1 == plain


def test_search_terms_with_backslashes_and_quotes(spark):
    """Search terms become Spark SQL string literals, where a backslash
    starts an escape: ``foo\\``, ``it's`` and ``a\\'b`` must parse and
    compare as themselves, exactly as the Column form (F.lit) does. The
    alnum tokenizer never emits such a token, so adding them to a query
    leaves every ranking as the plain terms give it."""
    from memvid_spark.functions.text import sql_str
    from memvid_spark.operators.search import bm25_topk, bm25f_topk, lex_topk

    odd = ["foo\\", "it's", "a\\'b"]
    toks = spark.createDataFrame(
        [(odd + ["foo", "a'b", "a\\b", "it''s"],)], "_toks array<string>"
    )
    for t in odd:
        via_sql = F.expr(f"size(filter(_toks, x -> x = {sql_str(t)}))")
        via_col = F.size(F.filter("_toks", lambda x: x == F.lit(t)))
        assert tuple(toks.select(via_sql, via_col).head()) == (1, 1), t
    docs = spark.createDataFrame(
        [
            (1, "spark engine notes spark"),
            (2, "notes on spark it's foo a b"),
            (3, "gardening and soil"),
        ],
        "doc_id long, text string",
    )
    for fn in (lex_topk, bm25_topk, bm25f_topk):
        got = [tuple(r) for r in fn(docs, ["spark", *odd], k=5).collect()]
        want = [tuple(r) for r in fn(docs, ["spark"], k=5).collect()]
        assert got == want and [r[0] for r in got] == [1, 2], fn.__name__


def test_vector_literal_with_non_finite_component(spark):
    """inf/nan have no SQL double literal: a literal vector carrying one
    must score exactly as the Column path (lit_vector) scores it."""
    from memvid_spark.functions.vector import cosine, dot, lit_vector

    df = spark.createDataFrame(
        [([1.0, 2.0, 0.0],), ([0.0, -1.0, 3.0],)], "v array<double>"
    )
    inf, nan = float("inf"), float("nan")
    for q in ([inf, 1.0, 0.0], [1.0, nan, 2.0], [-inf, 0.0, 1.0]):
        got = df.select(cosine("v", q), dot("v", q)).collect()
        ref = df.select(
            cosine(F.col("v"), lit_vector(q)), dot(F.col("v"), lit_vector(q))
        ).collect()
        assert [list(map(repr, r)) for r in got] == [
            list(map(repr, r)) for r in ref
        ], q


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge: nodes {1,2,3,4}, edges of the complete graph
    without (1,4) -> triangles {1,2,3} and {2,3,4} only. Duplicate and
    reversed input edges must not change counts."""
    from memvid_spark.operators.mesh import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (2, 3), (2, 4), (3, 4), (4, 3), (2, 2)],
        "src long, dst long",
    )
    out = {r.node: (r.degree, r.n_tri) for r in triangle_counts(edges).collect()}
    assert out == {1: (2, 1), 2: (3, 2), 3: (3, 2), 4: (2, 1)}


def test_triangle_counts_random_vs_bruteforce(spark):
    """Degree-oriented counting must agree with a driver-side brute
    force over every node triple on a random graph (including hubs and
    ties in degree)."""
    import itertools
    import random

    from memvid_spark.operators.mesh import triangle_counts

    random.seed(5)
    n = 18
    und = {
        tuple(sorted(random.sample(range(n), 2))) for _ in range(60)
    }
    expect: dict[int, int] = {}
    for t in itertools.combinations(range(n), 3):
        if all(e in und for e in itertools.combinations(t, 2)):
            for v in t:
                expect[v] = expect.get(v, 0) + 1
    edges = spark.createDataFrame(list(und), "src long, dst long")
    got = {r.node: r.n_tri for r in triangle_counts(edges).collect()}
    assert got == expect


def test_triangle_orientation_caps_hub_fanout(spark):
    """Planted hub: a star (hub degree 1000) plus one triangle off to
    the side. Degree orientation points every spoke INTO the hub, so
    the hub emits ZERO wedges — id orientation would fan out
    C(1000, 2) ≈ 500k wedge candidates from one node. The wedge count
    is measured on the actual oriented plan."""
    from memvid_spark.operators.mesh import _orient_by_degree, triangle_counts
    from pyspark.sql import functions as F

    hub_edges = [(0, i) for i in range(10, 1010)]
    tri_edges = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(
        hub_edges + tri_edges, "src long, dst long"
    )
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    oriented = _orient_by_degree(und, deg)
    wedges = (
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        .join(
            oriented.select(F.col("u").alias("y"), F.col("v").alias("z")),
            "y",
        )
        .count()
    )
    # only the planted triangle contributes a wedge; the 1000-degree
    # hub contributes none (all its edges point inward)
    assert wedges <= 3
    got = {r.node: r.n_tri for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_simhash_packed_votes_match_reference_sum(spark):
    """The packed dual-lane vote counters (round 12) must reproduce the
    per-bit ±1-sum Charikar votes bit-for-bit — including exact vote
    ties (2*cnt == n must yield bit 0, like sum(±1) == 0 did) and
    repeated tokens (per-occurrence votes = tf-weighted votes)."""
    from functools import reduce

    from memvid_spark.functions.hashing import hash64
    from memvid_spark.functions.text import tokens
    from memvid_spark.operators.dedup import SIMHASH_BITS, simhash_table

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha alpha alpha beta"),          # tf weighting
            (2, "zeta eta"),                        # 2 tokens: dense vote ties
            (3, "single"),
            (4, "x y x y x y x y"),                 # alternating repeats
            (5, "the quick brown fox jumps over the lazy dog " * 20),
        ],
        "doc_id long, text string",
    )

    def reference(docs, bits=SIMHASH_BITS):
        ex = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
        post = ex.select(F.col("doc_id"), hash64("t").alias("h"))
        votes = [
            F.sum(F.expr(f"(((h >> {j}) & 1) * 2 - 1)")).alias(f"v{j}")
            for j in range(bits)
        ]
        per_doc = post.groupBy("doc_id").agg(*votes)
        sim = reduce(
            lambda a, b: a + b,
            [
                F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(bits)
            ],
        )
        return per_doc.select("doc_id", sim.cast("long").alias("simhash"))

    got = {r.doc_id: r.simhash for r in simhash_table(docs).collect()}
    want = {r.doc_id: r.simhash for r in reference(docs).collect()}
    assert got == want
