"""Semantic & passage-level corpus dedup: SemDeDup, fingerprint-overlap
survivor selection, and exact-substring (window-hash) duplicate spans.

These extend the engine's dedup family (operators/dedup.py — the
reference's content-hash dedup, src/memvid/mutation.rs:3302-3316, and
its SimHash sketch, src/search/mod.rs:189-230) with the cluster-level
operations a large-scale training-data pipeline layers on top:

- ``seed_assign`` + ``semdedup``: the SemDeDup recipe (Abbas et al.
  2023, arXiv:2303.09540) — cluster the embedding space, then drop all
  but one member of every within-cluster group whose pairwise cosine
  exceeds a threshold. Clustering here is deterministic seed
  assignment (k lowest-id vectors as seeds, one nearest-seed pass) so
  the DuckDB oracle can replay it exactly; the sample-trained Lloyd's
  kernel (functions/vector.py:63) slots in where replayability is not
  required.
- ``survivor_selection``: after any pairwise dedup produced edges,
  pick WHICH document of each duplicate group to keep — connected
  components (mesh.connected_components) then a deterministic quality
  pick (longest text, then lowest doc_id) per cluster.
- ``passage_dup_stats``: the hashed analogue of exact-substring dedup
  (Lee et al. 2021, arXiv:2107.06499) — hash every w-token sliding
  window, a window whose hash occurs in more than one document is
  duplicated text; per-doc duplicated-window fraction drives the
  filter decision.

Scale posture (100 TB):
- ``seed_assign``: the exact small-k path — k ≤ 64 seeds broadcast,
  assignment a narrow map over the corpus. At warehouse scale k grows
  with the corpus (SemDeDup uses k≈11k for 233M docs) and assignment
  routes to ``seed_assign_scaled``: the seed table stays a DISTRIBUTED
  DataFrame end-to-end (no driver pull, no whole-table broadcast —
  only the sqrt(k) super-seeds broadcast), rows shuffle to their
  probed super-groups, and each group's seed block joins executor-side
  via a bounded cogroup.
- ``semdedup``: the pairwise stage is an equi-join on the cluster id —
  pair generation is bounded per cluster, never O(n²) global. Skewed
  (oversized) clusters are the known failure mode; cap members per
  cluster upstream or re-shard hot clusters (AQE skew join handles
  moderate skew).
- ``survivor_selection``: edges come in pre-bucketed (fingerprint
  equi-join with a df ceiling that prunes stop-grams); components via
  min-label propagation with localCheckpoint per round; the final pick
  is one window per cluster — partitioned by cluster, never global.
- ``passage_dup_stats``: one explode (≤ tokens-w+1 rows per doc)
  collapsing into per-hash doc counts with map-side combine, then one
  equi-join back on the 8-byte hash. This is the shuffle-once layout;
  the suffix-array construction of the paper is replaced by hashing,
  which is what production pipelines (e.g. Dolma, RedPajama-2) do.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import hash64
from ..functions.text import tokens
from ..functions.vector import dot, norm as vnorm
from ..session import local_frame
from .mesh import connected_components

SEM_K = 8  # deterministic seed count at test scale (k ∝ corpus size)
SEM_TAU = 0.999  # within-cluster cosine threshold (paper: eps-dedup)
SEM_TARGET_M = 256  # auto-k: target mean cluster size (k = ceil(n / this))
SEM_EXACT_K_MAX = 64  # join-based exact assignment above this explodes n*k rows
PASSAGE_W = 8  # window width in tokens (paper uses 50; 8 at test scale)
COS_ROUND = 9  # argmax stability: round cosine before comparing seeds


def _unit_base(
    emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, v) with v UNIT-normalized double — normalization paid once
    so every downstream cosine (seed assignment, within-cluster pairs)
    is a single dot product. Zero vectors normalize to null and never
    match any threshold."""
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return emb.select(F.col(id_col), raw.alias("_raw")).select(
        F.col(id_col),
        F.transform(
            F.col("_raw"),
            lambda x: x / F.nullif(vnorm(F.col("_raw")), F.lit(0.0)),
        ).alias("v"),
    )


def seed_assign(
    emb: DataFrame,
    k: int = SEM_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest of k deterministic seeds.

    Seeds are the k lowest-id vectors (replayable by the oracle, unlike
    k-means); nearest = max cosine, ties broken by lowest seed id.
    Returns (id_col, v = UNIT-normalized double vector, cluster).

    This is the EXACT, oracle-replayable path: the broadcast seed join
    materializes n*k scored rows, which is fine at small k but
    quadratic once k scales with the corpus (k = n/target_m ⇒ n²/m
    rows) — ``seed_assign_scaled`` is the large-k path.
    """
    base = _unit_base(emb, id_col, vec_col)
    seeds = (
        base.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("seed_id"), F.col("v").alias("sv"))
    )
    scored = base.join(F.broadcast(seeds)).select(
        id_col,
        "v",
        "seed_id",
        F.round(dot(F.col("v"), F.col("sv")), COS_ROUND).alias("c"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("c"), F.asc("seed_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "v", F.col("seed_id").alias("cluster"))
    )


def seed_assign_scaled(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 2,
    group_rows: int = 65536,
    n_hint: int | None = None,
) -> DataFrame:
    """Nearest-seed assignment for LARGE k: two-level (IVF-style) search
    instead of the n*k join explosion — fully DISTRIBUTED. The seed
    table never visits the driver and is never broadcast whole: with
    auto-k = n/256 a 1e10-row corpus carries ~40M seeds (100 GB+ at
    d=768), which is executor data, not a driver pull.

    Plan (the same cogroup shape as hnsw.nsw_knn_join):
    1. Seeds = the k lowest-id vectors (same rule as ``seed_assign``),
       selected WITHOUT funneling vectors anywhere: the k-th smallest
       id is taken over the 8-byte id column alone (per-partition
       top-k), then ``filter(id <= threshold)`` keeps the seed table a
       distributed DataFrame.
    2. Only the s = ceil(sqrt(k)) lowest-id seeds — the super-seeds —
       collect and broadcast (s·d doubles: ~25 MB even at k=40M,
       d=768).
    3. Each seed maps to its nearest super-seed executor-side (one
       Arrow matmul against the broadcast block) → the seed table is
       sharded by super-group, k/s ≈ sqrt(k) seeds per group.
    4. Every corpus vector probes its top-``probes`` super-groups (one
       matmul against the same broadcast block) and replicates ×probes.
    5. A COGROUP on (group, sub) pairs each group's seed block with
       exactly the rows probing it; one NumPy matmul per task finds the
       best seed in the block. ``sub`` hash-splits a group's ROW side
       into ~``group_rows``-row slices so per-task memory is bounded
       (seed block sqrt(k)·d + one row slice) — the seed block is
       replicated per sub-slice, but at sqrt(k)·d bytes it is ~3% of
       the row traffic it rides along with. Slices are sized PER
       GROUP from a sampled probe estimate, so a super-group hotter
       than the mean gets proportionally more slices instead of
       proportionally fatter tasks (zipfy cluster mass is the norm at
       corpus scale, not the exception).
    6. One window per id picks the best probed candidate (max cosine,
       ties to the lowest seed id — the exact path's rule).

    Per-row work is O((s + probes·k/s)·d) = O(sqrt(k)·d) — the flat
    matmul the SemDeDup paper runs on GPUs is O(k·d) per row, which at
    k ∝ n is quadratic overall. The trade is standard IVF
    approximation: a vector whose true nearest seed lives in an
    unprobed super-group is assigned its best probed seed (raise
    ``probes`` for recall; the clustering is itself a k-means stand-in,
    so this is noise at the level SemDeDup operates).

    Determinism: cosines round to COS_ROUND decimals, argmax takes the
    FIRST max, and seed blocks sort by id ascending — so ties break to
    the lowest seed id, matching the exact path. All-null/zero vectors
    (and rows none of whose probed groups hold any seed) assign to the
    lowest seed id, matching the exact path's null-last ordering.
    Returns (id_col, v, cluster) like ``seed_assign``. ``n_hint``
    (corpus size, if the caller already counted) sizes the sub-split
    without a second count job.
    """
    import numpy as np
    import pandas as pd

    base = _unit_base(emb, id_col, vec_col)
    # (1) seed threshold over the id column only — no vector funnel
    thr_row = (
        base.select(id_col).orderBy(id_col).limit(k)
        .agg(F.max(id_col)).head()
    )
    if thr_row is None or thr_row[0] is None:
        return base.withColumn("cluster", F.lit(0))
    seeds = (
        base.filter(F.col(id_col) <= thr_row[0])
        .select(F.col(id_col).alias("seed_id"), F.col("v").alias("sv"))
        .localCheckpoint()  # feeds count, super-block, and group map
    )
    kk = seeds.count()
    s = max(1, int(math.ceil(math.sqrt(kk))))
    # (2) super-seed block: s rows to the driver — sqrt(k), never k
    sup_pdf = (
        seeds.orderBy("seed_id").limit(s).toPandas()
        .sort_values("seed_id").reset_index(drop=True)
    )
    first_seed = int(sup_pdf["seed_id"].iloc[0])
    dim = next((len(v) for v in sup_pdf["sv"] if v is not None), 0)
    if dim == 0:
        # degenerate: the s lowest-id seeds are all null/zero vectors.
        # With ids ascending the exact path would assign everything to
        # the lowest seed id (null sims tie at -inf, lowest id wins).
        return base.withColumn("cluster", F.lit(first_seed))
    SS = np.zeros((s, dim))
    sup_valid = np.zeros(s, dtype=bool)
    for i, v in enumerate(sup_pdf["sv"]):
        if v is not None:
            SS[i] = v
            sup_valid[i] = True
    p = min(max(1, probes), s)
    bc = emb.sparkSession.sparkContext.broadcast((SS, sup_valid, s, p, dim))

    # (3) seed → super-group, executor-side (rounded argmax, first max)
    def grp_seeds(batches):
        SS, sup_valid, s, p, dim = bc.value
        for pdf in batches:
            b = len(pdf)
            if b == 0:
                continue
            S = np.zeros((b, dim))
            for i, v in enumerate(pdf["sv"]):
                if v is not None:
                    S[i] = v
            sim = np.round(S @ SS.T, COS_ROUND)
            sim[:, ~sup_valid] = -np.inf
            yield pd.DataFrame(
                {
                    "grp": np.argmax(sim, axis=1).astype("int32"),
                    "seed_id": pdf["seed_id"],
                    "sv": pdf["sv"],
                }
            )

    seeds_g = seeds.mapInPandas(
        grp_seeds, "grp int, seed_id long, sv array<double>"
    )

    # (4) corpus rows → probed super-groups (×p, null rows drop here
    # and re-enter via the fallback union below)
    def probe(batches):
        SS, sup_valid, s, p, dim = bc.value
        for pdf in batches:
            vs = pdf["v"]
            ok = vs.map(lambda a: a is not None).to_numpy()
            if not ok.any():
                continue
            pdf = pdf[ok]
            X = np.stack(pdf["v"].to_numpy())
            sup = X @ SS.T
            sup[:, ~sup_valid] = -np.inf
            # stable argsort: equal sims probe the lowest group first
            order = np.argsort(-sup, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), p),
                    "v": [v for v in pdf["v"] for _ in range(p)],
                    "grp": order.reshape(-1).astype("int32"),
                }
            )

    probed = base.mapInPandas(
        probe, f"{id_col} long, v array<double>, grp int"
    )
    # (5) bound per-task rows: hash-split each group's ROW side into
    # ~group_rows slices; the group's seed block replicates per slice.
    # The split is PER GROUP, not global: probe mass follows the data's
    # cluster structure (zipfy at corpus scale), and a uniform split
    # sized to the MEAN would hand a hot super-group tasks proportional
    # to its heat — the one remaining per-task memory bind. Group row
    # mass is estimated from a deterministic ~65k-row hash sample run
    # through the same probe kernel (order-independent, one short job);
    # like every hash split here the cap holds in expectation — hash
    # balance and sampling noise add slack, never a structural blowup.
    # Corpora small enough that the mean split already bounds every
    # task (n·p ≤ 4·group_rows) skip the sampling job entirely.
    n = n_hint if n_hint is not None else emb.count()
    if n * p <= 4 * max(1, group_rows):
        n_sub = max(1, int(math.ceil((n * p / s) / max(1, group_rows))))
        probed = probed.withColumn(
            "sub", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sub)).cast("int")
        )
        seeds_rep = seeds_g.withColumn(
            "sub", F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1)))
        )
    else:
        srate = max(1, n // 65536)
        samp = base if srate == 1 else base.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(9173)), F.lit(srate)) == 0
        )
        cnts = (
            samp.mapInPandas(probe, f"{id_col} long, v array<double>, grp int")
            .groupBy("grp")
            .agg(F.count("*").alias("c"))
            .collect()  # ≤ s = sqrt(k) rows
        )
        subs = {
            int(r["grp"]): max(
                1, int(math.ceil(r["c"] * srate / max(1, group_rows)))
            )
            for r in cnts
        }
        subs_df = local_frame(
            emb.sparkSession,
            sorted(subs.items()) or [(0, 1)], "grp int, subs int"
        )
        # a group the sample missed is not provably tiny — "tiny" is
        # relative to the CORPUS, not to group_rows: at n=1e10 a group
        # needs ~n/65536 ≈ 150k rows to show up in the sample once in
        # expectation, several times the per-task cap. Fall back to the
        # MEAN-based global split (what the small-corpus branch uses):
        # over-splitting a genuinely tiny group just yields empty
        # slices; under-splitting a missed hot group blows a task.
        n_sub_mean = max(1, int(math.ceil((n * p / s) / max(1, group_rows))))
        probed = (
            probed.join(F.broadcast(subs_df), "grp", "left")
            .withColumn("subs", F.coalesce("subs", F.lit(n_sub_mean)))
            .withColumn(
                "sub",
                F.pmod(F.xxhash64(F.col(id_col)), F.col("subs")).cast("int"),
            )
            .drop("subs")
        )
        seeds_rep = (
            seeds_g.join(F.broadcast(subs_df), "grp", "left")
            .withColumn("subs", F.coalesce("subs", F.lit(n_sub_mean)))
            .withColumn(
                "sub",
                F.explode(F.sequence(F.lit(0), F.col("subs") - 1)),
            )
            .drop("subs")
        )

    def assign_group(row_pdf, seed_pdf):
        if len(row_pdf) == 0 or len(seed_pdf) == 0:
            return pd.DataFrame({id_col: [], "c": [], "seed_id": []})
        seed_pdf = seed_pdf.sort_values("seed_id").reset_index(drop=True)
        ks = len(seed_pdf)
        S = np.zeros((ks, dim))
        valid = np.zeros(ks, dtype=bool)
        for i, v in enumerate(seed_pdf["sv"]):
            if v is not None:
                S[i] = v
                valid[i] = True
        X = np.stack(row_pdf["v"].to_numpy())
        sims = np.round(X @ S.T, COS_ROUND)
        sims[:, ~valid] = -np.inf
        j = np.argmax(sims, axis=1)  # first max = lowest seed id
        return pd.DataFrame(
            {
                id_col: row_pdf[id_col].to_numpy(),
                "c": sims[np.arange(len(row_pdf)), j],
                "seed_id": seed_pdf["seed_id"].to_numpy()[j],
            }
        )

    # candidates drop v: the cogroup already paid the fan-out shuffle
    # for the vectors; the reduce below should move 24-byte rows, not
    # d-double arrays
    cand = (
        probed.groupby("grp", "sub")
        .cogroup(seeds_rep.groupby("grp", "sub"))
        .applyInPandas(
            assign_group, f"{id_col} long, c double, seed_id long"
        )
    )
    # (6) best candidate per row: max cosine, ties to the lowest seed.
    # max_by over struct(c, -seed) is a HASH aggregate with map-side
    # partial combine — cheaper than a sort window over n·probes rows;
    # candidate seeds are distinct per row (a seed lives in exactly one
    # super-group), so the struct order is strict and deterministic.
    best = cand.groupBy(id_col).agg(
        F.max_by(
            "seed_id", F.struct(F.col("c"), (-F.col("seed_id")).alias("ns"))
        ).alias("cluster")
    )
    # one join hangs v back on and covers the fallback in the same
    # pass: null/zero vectors (and rows whose probed groups held no
    # seeds) have no candidate row and take the lowest seed id — the
    # exact path's null-last rule
    return base.join(best, id_col, "left").select(
        id_col,
        "v",
        F.coalesce("cluster", F.lit(first_seed)).alias("cluster"),
    )


def semdedup(
    emb: DataFrame,
    k: int | None = SEM_K,
    tau: float = SEM_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 4096,
    target_m: int = SEM_TARGET_M,
    probes: int = 2,
) -> DataFrame:
    """SemDeDup: cluster, then mark within-cluster near-dups.

    A vector is a duplicate iff an earlier (lower-id) member of its
    cluster has cosine >= tau with it — exactly one survivor per
    cosine-connected chain seed. Returns (id_col, cluster, is_dup).

    ``k=None`` (the scale default) auto-sizes the seed count as
    ceil(n / target_m) from one cheap count — the SemDeDup recipe
    itself scales k with the corpus (k≈11k for 233M docs ≈ n/21k;
    arXiv:2303.09540 §3), and a k that does NOT grow with n makes mean
    cluster size m grow linearly, turning the per-cluster m² kernel
    into n²/k total work. With k = n/target_m the total pairwise work
    is n·target_m — linear in the corpus by design, not bounded only
    by the recall-losing ``max_cluster`` backstop. Explicit k stays
    for the oracle twin and paper-parity runs.

    Assignment picks its physical path by k: at k <= SEM_EXACT_K_MAX
    the exact broadcast-join (``seed_assign``, oracle-replayable);
    above, the two-level matmul path (``seed_assign_scaled``,
    O(sqrt(k)·d) per row) — same rounding and tie rules, IVF-grade
    approximation on the cluster boundary only.

    The pairwise stage runs as ONE vectorized NumPy matmul per cluster
    (applyInPandas, Arrow-batched) — the shape the SemDeDup paper runs
    on GPUs. An expression-level pair join would evaluate an
    interpreted higher-order dot per pair (measured ~2.5× slower at
    sf0.1 and worse with dimension).

    ``max_cluster`` is the mega-cluster guard: a boilerplate-heavy
    corpus can drop a large fraction of all documents into one cluster,
    and an unbounded m² sim matrix then OOMs a single executor task
    (measured: a 33k-row cluster at the 100× probe is an 8.7 GB
    matrix). Clusters above the cap split into ceil(m/max_cluster)
    sub-shards by a deterministic hash of the id; pairs are compared
    within a sub-shard only, so the guard trades a bounded recall loss
    (cross-shard dup pairs are missed — the SemDeDup paper's own k↑
    remedy has the same effect) for a hard per-task memory bound. Set
    ``max_cluster=0`` to disable. At the default 4096 every cluster at
    test scale (max m = 326 at sf0.1) is untouched; with auto-k it
    only fires on pathological skew (one seed attracting >16× target_m).
    """
    import numpy as np
    import pandas as pd

    n_hint = None
    if k is None:
        n_hint = emb.count()
        k = max(1, math.ceil(n_hint / max(1, target_m)))
    if k <= SEM_EXACT_K_MAX:
        assigned = seed_assign(emb, k=k, id_col=id_col, vec_col=vec_col)
    else:
        assigned = seed_assign_scaled(
            emb, k=k, id_col=id_col, vec_col=vec_col, probes=probes,
            n_hint=n_hint,
        )
    return mark_cluster_dups(
        assigned, tau=tau, id_col=id_col, max_cluster=max_cluster
    )


def mark_cluster_dups(
    assigned: DataFrame,
    tau: float = SEM_TAU,
    id_col: str = "vec_id",
    max_cluster: int = 4096,
) -> DataFrame:
    """The semdedup pairwise stage over a PRECOMPUTED (id, v, cluster)
    assignment — factored out so quality probes can run the identical
    dup kernel over different assignment paths (q184 compares the
    duplicate mass the scaled two-level assignment induces against the
    exact broadcast-join assignment). See :func:`semdedup` for the
    kernel and mega-cluster-guard semantics."""
    import numpy as np
    import pandas as pd

    if max_cluster and max_cluster > 0:
        # Pin the assignment ONCE: the mega-cluster sizing agg and the
        # kernel join below both consume it, and without the pin the
        # entire upstream assignment (the n·k broadcast join, or the
        # two-level matmul at scale) re-executes per consumer —
        # measured as the 4x-duplicated corpus subtree in q179's plan.
        assigned = assigned.localCheckpoint()
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_m"))
        n_sub = F.greatest(
            F.lit(1), F.ceil(F.col("_m") / F.lit(max_cluster))
        ).cast("long")
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster")  # k rows — broadcast
            .withColumn("_sub", F.pmod(F.xxhash64(F.col(id_col)), n_sub))
            .drop("_m")
        )
    else:
        assigned = assigned.withColumn("_sub", F.lit(0))

    def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        vs = pdf["v"]
        ok = vs.map(lambda a: a is not None).to_numpy()
        is_dup = np.zeros(len(pdf), dtype=bool)
        if ok.sum() >= 2:
            X = np.stack(vs[ok].to_numpy())  # unit vectors
            sim = X @ X.T
            # dup iff any EARLIER member is >= tau (strict upper triangle)
            dup_ok = (np.triu(sim >= tau, k=1)).any(axis=0)
            is_dup[np.flatnonzero(ok)] = dup_ok
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "is_dup": is_dup,
            }
        )

    out_schema = f"{id_col} long, cluster long, is_dup boolean"
    return assigned.groupBy("cluster", "_sub").applyInPandas(
        cluster_dups, out_schema
    )


def fingerprint_overlap_edges(
    docs: DataFrame,
    k: int = 3,
    p: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup edges: pairs of docs sharing >= min_shared sampled
    rolling fingerprints (token k-gram hashes, 0-mod-p selected).

    ``max_df`` is the stop-gram ceiling: fingerprints present in more
    than max_df docs carry no dedup signal and would otherwise explode
    the self-join — the df-floor trick from the collocation miner, in
    reverse. Returns (a, b) with a < b.
    """
    from ..functions.text import ngram_rows

    # whole-stage-codegen k-gram construction (short docs yield zero
    # rows structurally — see ngram_rows)
    grams = ngram_rows(docs, k, id_col, text_col)
    # checkpoint the sampled fingerprint table once: it feeds the df
    # ceiling AND both sides of the pair join — without this the gram
    # explode + distinct re-executes three times
    fp = (
        grams.select(id_col, hash64(F.col("gram")).alias("fp"))
        .distinct()
        .filter(F.col("fp") % p == 0)
        .localCheckpoint()
    )
    rare = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    fp = fp.join(rare, "fp", "left_semi")
    pairs = (
        fp.select(F.col(id_col).alias("a"), "fp")
        .join(fp.select(F.col(id_col).alias("b"), "fp"), "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("a", "b")
    )
    return pairs


def survivor_selection(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pick one survivor per duplicate component: longest text wins,
    ties to the lowest doc id. Docs with no edges survive trivially
    (they are not emitted — output covers duplicate groups only).

    Returns (cluster, survivor_doc, n_members, n_removed).
    """
    cc = connected_components(edges)  # (node, cluster)
    members = cc.join(
        docs.select(F.col(id_col).alias("node"), F.length(text_col).alias("n_chars")),
        "node",
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("node"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("node"))).alias("survivor_doc"),
            F.count("*").alias("n_members"),
            (F.count("*") - 1).alias("n_removed"),
        )
    )


def passage_windows(
    docs: DataFrame,
    w: int = PASSAGE_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All w-token sliding-window hashes per doc: (id, pos, whash).

    Docs with fewer than w tokens yield zero rows (pre-filtered —
    Spark's sequence(1, 0) is descending, not empty).
    """
    from ..functions.text import ngram_rows

    return ngram_rows(docs, w, id_col, text_col, with_pos=True).select(
        F.col(id_col), "pos", hash64(F.col("gram")).alias("whash")
    )


def passage_dup_stats(
    docs: DataFrame,
    w: int = PASSAGE_W,
    flag_threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc duplicated-window fraction (exact-substring dedup stats).

    A window is duplicated iff it occurs in >1 distinct doc (windows
    compared by hash — an equality proxy for the w-gram string that
    never surfaces in the output). Returns (id, n_windows,
    n_dup_windows, dup_fraction, flagged); docs with < w tokens yield
    zero windows and are not emitted.

    One corpus pass (round 11): the previous shape consumed the window
    explode THREE times (shared-hash mining, the dup-mark semi-join and
    the per-doc totals each re-ran tokenize + window-hash over the
    corpus — measured 3/4 of the query's 499 cpu_s at the 100x probe).
    Now the explode feeds a single (whash, id) count, the >1-doc test
    is a count window over the SAME whash partitioning, and both
    per-doc sums ride one groupBy — 1 tokenize pass, 3 narrow
    exchanges, no joins. The window hash is ``xxhash64`` (native
    codegen, 64-bit) rather than the md5-backed portable hash64: the
    hash is a pure within-engine equality key here (the oracle twin
    mines its OWN hashes; outputs carry none), so cross-engine
    replayability buys nothing and the md5 digest dominated the
    remaining CPU (A/B at 100x: 488 -> 218 cpu_s). Collision odds drop
    too (64-bit vs the 60-bit md5 slice).
    """
    from ..functions.text import ngram_rows

    win = ngram_rows(docs, w, id_col, text_col).select(
        F.col(id_col), F.xxhash64(F.col("gram")).alias("whash")
    )
    per = win.groupBy("whash", id_col).agg(F.count("*").alias("cnt"))
    ndocs = F.count("*").over(Window.partitionBy("whash"))
    out = (
        per.withColumn("ndocs", ndocs)
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(F.when(F.col("ndocs") > 1, F.col("cnt")).otherwise(F.lit(0)))
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6),
        )
        .withColumn("flagged", F.col("dup_fraction") >= F.lit(flag_threshold))
    )
    return out
