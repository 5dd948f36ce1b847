"""Sharded navigable-small-world graph ANN — the reference's HNSW tier.

Reference: src/vec.rs:22-28,345-435 — HNSW engaged at >=1000 vectors,
M=16, M0=32, ef_construction=100, ef_search=50; validated against
brute-force ground truth with recall >= 0.8 @ k=10 (src/vec.rs:645-650);
params also in MV2_SPEC.md:168-176. Distance is L2, same as the SIMD
kernel (src/simd.rs:13-70).

Spark design (SURVEY §2.8): Spark has no pointer-chasing runtime, so one
giant graph is the wrong shape. Instead the corpus is hash-sharded and
each shard builds an independent single-layer NSW graph inside one Arrow
batch (applyInPandas, NumPy kernels — the SIMD analogue). A query beam-
searches every shard in parallel; per-shard top-k union -> global exact
top-k over <= n_shards*k candidates. HNSW's upper layers buy a log-time
entry point into one huge graph; sharding buys the same effect by
keeping every graph small and embarrassingly parallel, and it composes
with partition pruning (shard by IVF cell / date / tenant at warehouse
scale). The build output is a plain DataFrame — persist it once
(`vector index build via DataFrame`) and search many times without
touching raw vectors again.

Determinism: nodes are inserted in ascending id order, all heaps break
ties on id, and neighbor pruning keeps the M closest — so the graph, and
therefore search results, are reproducible across runs and partitionings.
"""

from __future__ import annotations

import heapq
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame

GRAPH_SCHEMA = (
    "shard int, vec_id bigint, neighbors array<bigint>, "
    "embedding array<double>, entry boolean"
)


def _search_seeds(n: int, fanout: int = 16) -> list[int]:
    """Evenly spaced beam-entry seed positions (node 0 plus ~fanout
    positions in id-sorted order) — the beam-QUALITY half of seeding:
    a beam that starts near the query converges in fewer expansions.
    Deterministic (positions, not hashes), ≤ fanout+1 extra distance
    evaluations. The beam-REACH half is the build-time entry cover
    (``_entry_cover``): a single-layer NSW pruned to the m closest
    neighbors can leave a multi-cluster shard with directed-unreachable
    islands (outgoing island→main links survive under the 2m cap while
    the main side's backlinks overflow and prune away — measured: an
    8-cell IVF over 8 planted blobs sliced a blob sliver into a
    foreign cell and its queries lost recall at ANY probe count), so
    the builder marks a greedy BFS cover and every search seeds it —
    every node of every shard is reachable from the seed set by
    construction, regardless of cluster layout."""
    if n <= 1:
        return [0]
    stride = max(1, n // fanout)
    return list(range(0, n, stride))


def _entry_cover(adj) -> list[int]:
    """Greedy directed-BFS entry cover: the minimal-id-first node set
    from which EVERY node is reachable along outgoing edges. Walk ids
    ascending; each still-unreached node becomes an entry and its BFS
    marks everything it can reach — O(V+E), deterministic, usually
    [0] on a well-connected graph. This is what HNSW's upper layers
    provide implicitly (a long-range path into every region); with a
    flat pruned NSW the cover must be recorded explicitly or islands
    severed by neighbor pruning silently lose ALL recall."""
    n = len(adj)
    reached = bytearray(n)
    entries: list[int] = []
    for s in range(n):
        if reached[s]:
            continue
        entries.append(s)
        reached[s] = 1
        stack = [s]
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if not reached[v]:
                    reached[v] = 1
                    stack.append(v)
    return entries


def _batch_seeds(pdf, n: int) -> list[int]:
    """Seed set for one id-sorted shard batch: the build-time entry
    cover (reach guarantee) ∪ evenly spaced positions (beam quality).
    Tolerates a legacy index without the ``entry`` column — reach then
    degrades to the evenly-spaced heuristic, never an error."""
    seeds = set(_search_seeds(n))
    if "entry" in pdf.columns:
        col = pdf["entry"]
        seeds.update(int(i) for i, e in enumerate(col) if e)
    return sorted(seeds)


def _beam_search(vecs, adj, entry, q, ef: int) -> list[tuple[float, int]]:
    """Best-first graph walk (HNSW layer-0 search, src/vec.rs:393-435):
    expand the closest unexpanded candidate until the frontier is farther
    than the worst of the ef best seen. ``entry`` is a node id or a list
    of seed ids (multi-seeded search). Returns [(dist2, node)] ascending."""
    import numpy as np

    def d2(i: int) -> float:
        diff = vecs[i] - q
        return float(np.dot(diff, diff))

    entries = [entry] if isinstance(entry, int) else list(entry)
    visited = set(entries)
    cand = [(d2(e), e) for e in entries]  # min-heap: closest frontier first
    heapq.heapify(cand)
    best = [(-d, e) for d, e in cand]  # max-heap of the ef best (negated)
    heapq.heapify(best)
    while len(best) > ef:
        heapq.heappop(best)
    while cand:
        d, u = heapq.heappop(cand)
        if d > -best[0][0] and len(best) >= ef:
            break
        nbrs = [v for v in adj[u] if v not in visited]
        if not nbrs:
            continue
        visited.update(nbrs)
        # one vectorized distance evaluation per EXPANSION (all unvisited
        # neighbors at once) instead of a Python-level d2 call per edge —
        # the per-edge call dominated shard-build wall time at the 100x
        # probe (~2M numpy calls per 25k-node shard)
        diffs = vecs[nbrs] - q
        dvs = np.einsum("ij,ij->i", diffs, diffs)
        for v, dv in zip(nbrs, dvs):
            dv = float(dv)
            if len(best) < ef or dv < -best[0][0]:
                heapq.heappush(cand, (dv, v))
                heapq.heappush(best, (-dv, v))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, v) for nd, v in best)


def _build_shard(vecs, m: int, ef_construction: int) -> list[list[int]]:
    """Incremental NSW construction (src/vec.rs:345-392): each new node
    beam-searches the graph built so far, links to its m nearest, and
    over-full neighbor lists are pruned back to the m closest."""
    import numpy as np

    n = len(vecs)
    adj: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        found = _beam_search(vecs, adj, 0, vecs[i], ef_construction)
        links = [v for _, v in found[:m]]
        adj[i] = links
        for v in links:
            adj[v].append(i)
            if len(adj[v]) > 2 * m:  # M0 = 2*M, src/vec.rs:22-28
                nbrs = adj[v]
                diffs = vecs[nbrs] - vecs[v]
                dd = np.einsum("ij,ij->i", diffs, diffs)
                dists = sorted((float(d), w) for d, w in zip(dd, nbrs))
                adj[v] = [w for _, w in dists[: 2 * m]]
    return adj


def _shard_builder(m: int, ef_construction: int):
    """Grouped-map fn: one id-sorted Arrow batch → that shard's graph."""

    def build(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        adj = _build_shard(vecs, m, ef_construction)
        ids = pdf["vec_id"].to_numpy()
        entry = np.zeros(len(ids), dtype=bool)
        entry[_entry_cover(adj)] = True
        return pd.DataFrame(
            {
                "shard": pdf["shard"],
                "vec_id": ids,
                "neighbors": [[int(ids[v]) for v in row] for row in adj],
                "embedding": list(pdf["embedding"]),
                "entry": entry,
            }
        )

    return build


def _with_shard(emb: DataFrame, n_shards: int, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(n_shards)).alias("shard"),
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )


def build_nsw_index(
    emb: DataFrame,
    n_shards: int = 8,
    m: int = 16,
    ef_construction: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the sharded graph: (shard, vec_id, neighbors, embedding).

    One Arrow batch per shard; inside the batch the build is the
    reference's insert loop in NumPy. Shard assignment is id-hash —
    swap for an IVF-cell or partition key to get pruned searches."""
    sharded = _with_shard(emb, n_shards, id_col, vec_col)
    return sharded.groupBy("shard").applyInPandas(
        _shard_builder(m, ef_construction), GRAPH_SCHEMA
    )


def _ensure_entry(index: DataFrame) -> DataFrame:
    """Back-compat for an index persisted before the ``entry`` column
    existed: add entry=false so delta unions line up. Search on such
    rows falls back to the evenly-spaced seeds; the next (delta or
    full) rebuild of a shard recomputes its real cover."""
    if "entry" in index.columns:
        return index
    return index.withColumn("entry", F.lit(False))


def refresh_entry_cover(index: DataFrame) -> DataFrame:
    """Recompute every sub-graph's entry cover IN PLACE — no graph
    rebuild: one applyInPandas pass per (cell,) shard group runs the
    same directed-BFS cover the builder records (``_entry_cover``)
    over the EXISTING adjacency. This is the doctor heal for a legacy
    pre-entry-cover index, which otherwise searches on evenly spaced
    seeds alone and can silently return recall 0 on a directed-severed
    island until its next delta happens to rebuild that sub-shard.
    Cost: O(V+E) per sub-graph and one shuffle on the group key — no
    beam searches, so orders cheaper than a rebuild. Works on both the
    hash-sharded and the IVF-cell graph layouts."""
    import numpy as np
    import pandas as pd

    has_cell = "cell" in index.columns
    index = _ensure_entry(index)
    keys = ["cell", "shard"] if has_cell else ["shard"]
    schema = CELL_GRAPH_SCHEMA if has_cell else GRAPH_SCHEMA
    out_cols = [c.split()[0] for c in schema.split(", ")]

    def recover(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        pos = {int(v): i for i, v in enumerate(pdf["vec_id"])}
        adj = [
            [pos[int(w)] for w in row if int(w) in pos]
            for row in pdf["neighbors"]
        ]
        entry = np.zeros(len(pdf), dtype=bool)
        entry[_entry_cover(adj)] = True
        pdf = pdf.assign(entry=entry)
        return pd.DataFrame({c: pdf[c] for c in out_cols})

    return index.groupBy(*keys).applyInPandas(recover, schema)


def _delete_ids(
    deletes: DataFrame | None, id_col: str
) -> tuple[DataFrame | None, list[int] | None]:
    """Normalize a tombstone table to a distinct (vec_id bigint) set:
    (frame, driver_ids). Usually tiny (the delete batch, not the
    corpus) — then collected to a LOCAL relation (the same one job the
    old localCheckpoint paid, but the several broadcast joins that
    consume it cost no AQE stage each) and the id LIST rides along so
    the caller can fold further driver set algebra over it. A
    vacuum-scale batch (more than ``DRIVER_DELTA_IDS_MAX`` distinct
    ids) keeps the DISTRIBUTED pinned form instead (driver_ids None) —
    the same guard the upsert side applies, so a multi-million-row
    tombstone sweep never materializes as a driver list / oversized
    serialized plan."""
    if deletes is None:
        return None, None
    dis = deletes.select(
        F.col(id_col).cast("bigint").alias("vec_id")
    ).distinct()
    head = dis.take(DRIVER_DELTA_IDS_MAX + 1)
    if len(head) > DRIVER_DELTA_IDS_MAX:
        return dis.localCheckpoint(), None
    ids = sorted(int(r["vec_id"]) for r in head)
    return (
        local_frame(
            deletes.sparkSession, [(v,) for v in ids], "vec_id bigint"
        ).coalesce(1),
        ids,
    )


def apply_delta(
    index: DataFrame,
    new_emb: DataFrame,
    n_shards: int = 8,
    m: int = 16,
    ef_construction: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Incremental index maintenance: UPSERT a batch of vectors and/or
    drop tombstoned ids by rebuilding ONLY the shards they touch;
    untouched shards pass through unchanged. Because the per-shard
    build is a deterministic function of the shard's id-sorted
    contents, delta-apply equals a full rebuild of
    (old ∖ deletes ∖ delta-ids) ∪ delta row-for-row (the q101
    incremental-postings contract, mirroring the reference's
    rebuild_indexes idempotence, mutation.rs:913-918; tombstone
    handling mirrors its rebuild-from-TOC-after-vacuum,
    mutation.rs:2999-3084). A delta row whose vec_id already exists
    REPLACES the old row (last write wins — duplicate graph nodes
    would silently corrupt the id→position map in search); an id in
    both ``deletes`` and the delta lands as the delta row (deletes
    apply to the pre-delta index). At warehouse scale this is a
    partition-overwrite of touched shards — O(delta), not O(corpus)."""
    index = _ensure_entry(index)
    new_sharded = _with_shard(new_emb, n_shards, id_col, vec_col)
    new_ids = new_sharded.select("vec_id").distinct()
    del_ids, _ = _delete_ids(deletes, id_col)
    # re-inserted ids hash to their original shard, so the delta's own
    # shard set already covers them; deleted ids' shards come from the
    # index rows that hold them
    touched = new_sharded.select("shard").distinct()
    if del_ids is not None:
        touched = touched.unionByName(
            index.join(del_ids, "vec_id", "left_semi")
            .select("shard")
            .distinct()
        ).distinct()
    touched = touched.localCheckpoint()  # tiny; breaks index self-lineage
    keep = index.join(F.broadcast(touched), "shard", "left_anti")
    old_rows = (
        index.join(F.broadcast(touched), "shard", "left_semi")
        .join(new_ids, "vec_id", "left_anti")
        .select("shard", "vec_id", "embedding")
    )
    if del_ids is not None:
        old_rows = old_rows.join(del_ids, "vec_id", "left_anti")
    rebuild_src = old_rows.unionByName(new_sharded)
    rebuilt = rebuild_src.groupBy("shard").applyInPandas(
        _shard_builder(m, ef_construction), GRAPH_SCHEMA
    )
    return keep.unionByName(rebuilt)


def nsw_knn(
    index: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    ef_search: int = 50,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k: beam-search every shard in parallel, exact top-k over
    the union of per-shard candidates. Output (vec_id, score round6, rank),
    score = L2 distance, ties broken by id (SURVEY §7 total order)."""
    qv = [float(x) for x in query_vec]
    ef = max(ef_search, k)

    def search(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        adj = [[pos[w] for w in row] for row in pdf["neighbors"]]
        seeds = _batch_seeds(pdf, len(vecs))
        found = _beam_search(vecs, adj, seeds, np.asarray(qv), ef)
        rows = [(int(ids[v]), float(np.sqrt(d))) for d, v in found[:ef]]
        return pd.DataFrame(rows, columns=["vec_id", "score"])

    hits = index.groupBy("shard").applyInPandas(search, "vec_id bigint, score double")
    if exclude_id is not None:
        hits = hits.filter(F.col("vec_id") != exclude_id)
    from pyspark.sql import Window

    order = [F.col("score").asc(), F.col("vec_id").asc()]
    topk = (
        hits.select("vec_id", F.round("score", 6).alias("score"))
        .orderBy(*order)
        .limit(k)
    )
    return topk.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def nsw_recall(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 100,
    ef_search: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """recall@k vs exact L2 ground truth — the reference's own validation
    (src/vec.rs:587-651, bound asserted at :645-650)."""
    from .knn import knn

    index = build_nsw_index(
        emb, n_shards=n_shards, m=m, ef_construction=ef_construction,
        id_col=id_col, vec_col=vec_col,
    )
    approx = {r.vec_id for r in nsw_knn(index, query_vec, k, ef_search).collect()}
    exact = {
        r[id_col]
        for r in knn(emb, query_vec, k, id_col=id_col, vec_col=vec_col, metric="l2").collect()
    }
    return len(approx & exact) / k


# ---------------------------------------------------------------------------
# IVF-cell sharding: the serving-tier scale path.
#
# Hash-sharding (build_nsw_index) balances the BUILD perfectly but makes
# every query visit every shard — O(n_shards) beam searches per request,
# which at warehouse scale means the whole fleet works every query. The
# reference's single-process HNSW has the same all-data property
# (src/vec.rs:345-435); the distributed upgrade is IVF locality: shard by
# nearest centroid, persist PARTITIONED BY cell, and beam-search only the
# `probes` cells closest to the query — file-level partition pruning turns
# a request into O(probes) tasks over O(probes/n_cells) of the corpus.
# ---------------------------------------------------------------------------

CELL_GRAPH_SCHEMA = "cell int, " + GRAPH_SCHEMA


def auto_n_cells(
    n_rows: int,
    target_cell_rows: int = 25000,
    min_cells: int = 4,
    max_cells: int = 4096,
) -> int:
    """Corpus-sized cell count: n_cells = clamp(ceil(n / target), min,
    max). A FIXED cell count is a hidden linear term — at constant
    n_cells mean cell size grows O(corpus), so per-query probed CPU and
    per-delta rebuild wall grow with the corpus even though sub-shards
    are bounded. Sizing cells from the corpus keeps probes × cell_size
    (the per-request scan) and changed_sub_shards × cell_size (the
    per-commit delta kernel) CONSTANT as data grows — the same
    bounding discipline max_shard_rows applies to build tasks.

    ``max_cells`` is a conservative default, not a hard architecture
    bound: the trainer sample scales with the cell count
    (train_cell_centroids), past SCALED_TRAIN_MIN_CELLS the TRAINER
    itself goes distributed (per-super-group k-means,
    ``train_cell_centroids_scaled`` — driver flops stay O(√k), never
    O(k·sample·d)), and past TWO_LEVEL_MIN_CELLS the assignment routes
    through the two-level form (``_with_cell_two_level``,
    O(sqrt(k)·probes·d) per row). So raising max_cells for a
    >100M-row corpus costs only the O(k·d) centroid broadcast
    (~300 MB at k=50k, d=768) each assignment/search task reads —
    raise target_cell_rows before that hurts. Beyond
    max_cells × target_cell_rows rows cells fatten again — raise
    max_cells first; max_shard_rows still bounds every build/delta
    task either way."""
    import math

    return max(min_cells, min(max_cells, math.ceil(max(1, n_rows) / max(1, target_cell_rows))))


# Past this many requested cells the DRIVER trainer stops being the
# cheap part: lloyd_kmeans burns O(sample · k · d) flops per iteration
# on one core (sample itself scales 32·k), so at the 10^5-10^6 cells a
# 100 TB corpus-sized tier wants, training — not assignment — becomes
# the driver-side bottleneck. train_cell_centroids then routes through
# the distributed per-super-group form (train_cell_centroids_scaled).
# 4096 matches the auto_n_cells default clamp, so every existing
# artifact and pin trains on the byte-identical driver path.
SCALED_TRAIN_MIN_CELLS = 4096


def train_cell_centroids(
    emb: DataFrame,
    n_cells: int = 32,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    train_sample: int | None = None,
    id_col: str = "vec_id",
    n_hint: int | None = None,
):
    """Coarse cell centroids via Lloyd's on a BOUNDED Arrow sample —
    the same trainer discipline as train_ivfpq (no count pre-scan, the
    KB-scale model lives on the driver and broadcasts to encoders).
    The sample is ORDER-INDEPENDENT: rows rank by a seeded hash of the
    id (TakeOrdered — per-partition top-k, no global sort shuffle), so
    a corpus whose storage order correlates with cluster structure
    (time-partitioned embeddings, sorted ingests) still trains on a
    uniform draw instead of whatever rows arrive first. Returns an
    (n_cells, dim) float64 ndarray; may return fewer rows than n_cells
    on degenerate data (see lloyd_kmeans).

    ``train_sample=None`` (default) sizes the sample WITH the cell
    count: max(65536, 32 · n_cells) — corpus-sized tiers can ask for
    thousands of cells (auto_n_cells), and a fixed 65536-row sample
    leaves <32 training rows per centroid past 2048 cells, placing
    centroids on sampling noise. Identical to the old fixed default
    for every n_cells ≤ 2048, so existing trained artifacts replay.

    Above ``SCALED_TRAIN_MIN_CELLS`` cells the training itself is
    DISTRIBUTED (``train_cell_centroids_scaled``): driver k-means
    handles √k super-centroids, each super-group's sub-centroids train
    in parallel executor-side — lifting the max_cells clamp without a
    driver flop bottleneck. Every n_cells at or below the bound keeps
    the byte-identical driver path (existing artifacts replay)."""
    import numpy as np

    from ..functions.vector import lloyd_kmeans

    if n_cells > SCALED_TRAIN_MIN_CELLS:
        return train_cell_centroids_scaled(
            emb, n_cells, vec_col=vec_col, seed=seed, max_iter=max_iter,
            id_col=id_col, n_hint=n_hint,
        )
    if train_sample is None:
        train_sample = max(65536, 32 * n_cells)

    X = np.asarray(
        list(
            emb.select(
                F.col(vec_col).cast("array<double>").alias("v"),
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
                F.col(id_col).alias("_i"),
            )
            .orderBy("_h", "_i")
            .limit(train_sample)
            .toPandas()["v"]
        ),
        dtype="float64",
    )
    return lloyd_kmeans(X, n_cells, seed=seed, max_iter=max_iter)


# Per-super-group training batches are bounded: a group's sample share
# is ~32 rows per sub-centroid by proportional allocation, but hash
# sampling is proportional only in expectation — cap the rows one
# k-means task may hold so a skew surprise degrades training quality
# (subsampled group), never a task (OOM).
SCALED_TRAIN_GROUP_ROWS = 262144


def train_cell_centroids_scaled(
    emb: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    id_col: str = "vec_id",
    n_hint: int | None = None,
):
    """DISTRIBUTED coarse-quantizer training for LARGE cell counts —
    the trainer mirror of ``_with_cell_two_level``'s assignment shape
    (and semdedup.seed_assign_scaled's cogroup discipline). The driver
    path (``lloyd_kmeans`` over a 32·k-row sample) is O(sample·k·d)
    flops per iteration ON ONE CORE — the last driver-side bottleneck
    on the 100 TB path: at the ~10^5-10^6 cells a corpus-sized tier
    wants, driver training is hours while the cluster idles. Here the
    driver trains only s = ceil(√k) SUPER-centroids on a bounded
    sample (O(sample·√k·d) — the same cost class as before), then each
    super-group's k_g sub-centroids train IN PARALLEL executor-side:

    1. supers = driver lloyd_kmeans over a 32·s-row hash-ranked sample
       (byte-identical discipline to the ≤4096-cell path).
    2. a ~32·k-row training sample is drawn DISTRIBUTED (seeded-hash
       rate filter — never sorted, never collected) and each sample
       row maps to its nearest super in one Arrow matmul against the
       broadcast s×d block.
    3. per-super sub-centroid budgets k_g allocate proportionally to
       super-group sample mass (largest-remainder, every non-empty
       group ≥ 1, Σk_g = n_cells) — proportionality hands every group
       ~32 sample rows per sub-centroid automatically.
    4. one applyInPandas task per super-group runs lloyd_kmeans(rows_g,
       k_g) — per-task flops O(32·k_g²·d), bounded by allocation; rows
       sort by (hash, id) inside the task so the trained model is
       independent of partitioning.
    5. centroids concatenate in (super, sub) order — deterministic.

    Returns an (≤ n_cells, dim) float64 ndarray like the driver path
    (fewer on degenerate data: drained supers, tiny groups). The final
    O(k·d) collect IS the model — the same size bound as the broadcast
    every assignment task reads; raise target_cell_rows before either
    hurts. The model differs numerically from the driver path (k-means
    from different init), which is fine: centroids are a partitioning
    device — search recall is governed by query-time probes, and the
    delta ≡ rebuild contract only needs assignment to be a pure
    function of (row, centroids), which it stays."""
    import numpy as np

    S, trained, dim = _train_groups(
        emb, n_cells, vec_col, seed, max_iter, id_col, n_hint
    )
    rows = (
        trained.orderBy("grp", "sub")
        .collect()  # the O(k·d) model itself — the documented bound
    )
    out = np.asarray([r["centroid"] for r in rows], dtype="float64")
    return out.reshape(len(rows), dim) if len(rows) else S[:0]


def _train_groups(
    emb: DataFrame,
    n_cells: int,
    vec_col: str,
    seed: int,
    max_iter: int,
    id_col: str,
    n_hint: int | None,
):
    """The distributed trainer's shared body: (supers S, trained
    per-group centroid DataFrame (grp, sub, centroid) — PINNED, never
    collected here — and dim). ``train_cell_centroids_scaled`` orders
    and collects it (the ndarray model); ``train_cell_centroids_frame``
    keeps it distributed (the past-broadcast-bound model)."""
    import math

    import numpy as np

    from ..functions.vector import lloyd_kmeans

    s = max(1, int(math.ceil(math.sqrt(n_cells))))
    S = np.asarray(
        train_cell_centroids(
            emb, n_cells=s, vec_col=vec_col, seed=seed,
            max_iter=max_iter, id_col=id_col,
        ),
        dtype="float64",
    )
    dim = S.shape[1]
    # (2) distributed training sample: seeded-hash rate filter — the
    # order-independent draw of the driver path without the TakeOrdered
    # (a multi-million-row global top-k would funnel vectors through
    # one partition). Size variance of the rate form is noise at 32
    # rows per centroid.
    want = 32 * n_cells
    n = n_hint if n_hint is not None else emb.count()
    srate = max(1, n // max(1, want))
    base = emb.select(
        F.col(id_col).cast("bigint").alias("_i"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
    )
    samp = base if srate == 1 else base.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(srate)) == 0
    )
    bc = emb.sparkSession.sparkContext.broadcast(S)

    def to_super(batches):
        import pandas as pd

        SS = bc.value
        ss = (SS * SS).sum(axis=1)[None, :]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype("float64", copy=False)
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ SS.T) + ss
            yield pd.DataFrame(
                {
                    "grp": d2.argmin(axis=1).astype("int32"),
                    "_i": pdf["_i"],
                    "_h": pdf["_h"],
                    "v": pdf["v"],
                }
            )

    assigned = samp.mapInPandas(
        to_super, "grp int, _i long, _h long, v array<double>"
    ).localCheckpoint()  # feeds the count agg AND the per-group trainer
    cnt = {
        int(r["grp"]): int(r["c"])
        for r in assigned.groupBy("grp").agg(F.count("*").alias("c")).collect()
    }
    if not cnt:
        raise ValueError("train_cell_centroids_scaled: empty training sample")
    # (3) largest-remainder proportional allocation, non-empty ≥ 1
    total = sum(cnt.values())
    quota = max(0, n_cells - len(cnt))
    flo = {g: (quota * c) // total for g, c in cnt.items()}
    rem = quota - sum(flo.values())
    order = sorted(
        cnt, key=lambda g: ((quota * cnt[g]) % total, -g), reverse=True
    )
    kg = {
        g: 1 + flo[g] + (1 if i < rem else 0)
        for i, g in enumerate(order)
    }
    kg_df = local_frame(emb.sparkSession, sorted(kg.items()), "grp int, kg int")

    def train_group(pdf):
        import pandas as pd

        # sort inside the task: grouped-map input order depends on the
        # partitioning; the trained model must not
        pdf = pdf.sort_values(["_h", "_i"]).reset_index(drop=True)
        if len(pdf) > SCALED_TRAIN_GROUP_ROWS:
            pdf = pdf.iloc[:SCALED_TRAIN_GROUP_ROWS]
        X = np.stack(pdf["v"].to_numpy()).astype("float64", copy=False)
        C = lloyd_kmeans(X, int(pdf["kg"].iloc[0]), seed=seed,
                         max_iter=max_iter)
        g = int(pdf["grp"].iloc[0])
        return pd.DataFrame(
            {
                "grp": [g] * len(C),
                "sub": list(range(len(C))),
                "centroid": [list(map(float, c)) for c in C],
            }
        )

    trained = (
        assigned.join(F.broadcast(kg_df), "grp")
        .groupBy("grp")
        .applyInPandas(train_group, "grp int, sub int, centroid array<double>")
        .localCheckpoint()  # the model itself — k rows, distributed
    )
    return S, trained, dim


class CentroidFrame:
    """A coarse-quantizer model that NEVER visits the driver whole —
    the path past the O(n_cells·dim) broadcast bound that the ndarray
    model carries (at a 100 TB corpus the default target wants ~400k
    cells × 768 dims ≈ 2.4 GB: too big to collect, too big to ship to
    every task). Only the √k SUPER-centroid block (`supers`) and the
    per-group (start, count) offsets live on the driver; the centroid
    table itself stays a pinned DataFrame of (grp, cell, centroid)
    rows, and assignment pairs rows with their probed groups' blocks
    via a COGROUP (the seed_assign_scaled shape) — per-task memory is
    one √k-row block plus a bounded row slice.

    Accepted anywhere ``centroids`` is: ``_with_cell`` (so
    build_nsw_index_ivf AND apply_delta_ivf route through
    ``_with_cell_frame`` — delta ≡ rebuild holds within the path),
    ``nsw_knn_pruned`` (query-time probing collects only the nearest
    supers' blocks — O(probes·√k·dim), never the table), and
    ``nsw_knn_join`` (batch probing via ``_probe_cells_frame``'s
    cogroup). Cell ids are contiguous per group (offset + sub),
    assigned driver-side from the tiny count agg. The model persists
    as parquet + manifest (``save_centroid_frame`` /
    ``load_centroid_frame``, behind ``save_coarse_model`` /
    ``load_coarse_model``) so the facade and the streaming sink
    round-trip it without ever collecting the table."""

    def __init__(
        self, supers, offsets, df: DataFrame, n_cells: int, dim: int,
        radii=None,
    ):
        self.supers = supers        # (s, dim) ndarray — √k, tiny
        self.offsets = offsets      # {grp: (start_cell, count)}
        self.df = df                # (grp int, cell int, centroid) — pinned
        self.n_cells = int(n_cells)
        self.dim = int(dim)
        # {grp: max ||member centroid − super||} — the triangle-
        # inequality bound that makes single-query probing EXACT
        self.radii = radii

    def probe_cells(self, query_vec, probes: int) -> list[int]:
        """Top-``probes`` cells for ONE query — EXACT (the same cell
        set the ndarray model's full ranking returns, ties to the
        lowest cell id) without the table ever visiting the driver.
        Branch-and-bound on the group radii: a cell in group g is at
        least ``(‖q−S_g‖ − r_g)²`` away, so after ranking an initial
        pool (nearest groups by that lower bound until ≥ probes cells
        are in hand), every remaining group whose bound exceeds the
        probes-th best cell distance is provably outside the answer.
        Phase 2 collects the (usually empty) set of groups whose bound
        ties or beats the threshold and re-ranks. Worst case two
        collect jobs of O(probed-groups·√k·d) rows; a frame loaded
        from a pre-radius manifest (radii=None) degrades to the
        two-level heuristic with the batch path's
        ``TWO_LEVEL_PROBES`` floor."""
        import numpy as np

        q = np.asarray([float(x) for x in query_vec], dtype="float64")
        S = self.supers
        d = (S * S).sum(axis=1) - 2.0 * (S @ q) + float(q @ q)
        if self.radii is not None:
            lb = {
                g: max(0.0, float(np.sqrt(max(float(d[g]), 0.0)))
                       - float(self.radii[g])) ** 2
                for g in self.offsets
            }
        else:
            lb = {g: float(d[g]) for g in self.offsets}
        order = sorted(self.offsets, key=lambda g: (lb[g], g))
        need = max(1, probes)
        floor = min(TWO_LEVEL_PROBES, len(order))
        take, have = [], 0
        for g in order:
            take.append(g)
            have += self.offsets[g][1]
            if have >= need and len(take) >= floor:
                break

        def _rank(block):
            C = np.asarray([r["centroid"] for r in block], dtype="float64")
            cells = np.asarray([int(r["cell"]) for r in block])
            d2 = (C * C).sum(axis=1) - 2.0 * (C @ q) + float(q @ q)
            return cells, d2, np.lexsort((cells, d2))

        block = self.df.filter(F.col("grp").isin(take)).collect()
        cells, d2, o = _rank(block)
        rest = order[len(take):]
        if self.radii is not None and rest:
            thr = (
                float(d2[o[min(need, len(o)) - 1]])
                if len(o) >= need else float("inf")
            )
            more = [g for g in rest if lb[g] <= thr]
            if more:
                block = block + self.df.filter(
                    F.col("grp").isin(more)
                ).collect()
                cells, d2, o = _rank(block)
        return [int(cells[i]) for i in o[:need]]


def train_cell_centroids_frame(
    emb: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    id_col: str = "vec_id",
    n_hint: int | None = None,
) -> CentroidFrame:
    """Distributed trainer variant that returns the model AS A
    DATAFRAME (:class:`CentroidFrame`) — identical training to
    ``train_cell_centroids_scaled`` (same supers, same per-group
    k-means), but the final O(k·d) collect never happens: the trained
    (grp, sub, centroid) rows stay pinned executor-side and global
    cell ids are assigned from the tiny per-group count agg
    (cell = group offset + sub; contiguous per group)."""
    import numpy as np

    S, trained, dim = _train_groups(
        emb, n_cells, vec_col, seed, max_iter, id_col, n_hint
    )
    bcS = emb.sparkSession.sparkContext.broadcast(S)

    def grp_stats(pdf):
        import pandas as pd

        g = int(pdf["grp"].iloc[0])
        C = np.asarray([list(v) for v in pdf["centroid"]], dtype="float64")
        r = float(
            np.sqrt(((C - bcS.value[g][None, :]) ** 2).sum(axis=1)).max()
        )
        return pd.DataFrame({"grp": [g], "c": [len(pdf)], "radius": [r]})

    # one √k-row collect: per-group count (cell-id offsets) AND radius
    # (probe_cells' exactness bound) from the same pass over the model
    stats = trained.groupBy("grp").applyInPandas(
        grp_stats, "grp int, c long, radius double"
    ).collect()
    cnts = {int(r["grp"]): int(r["c"]) for r in stats}
    radii = {int(r["grp"]): float(r["radius"]) for r in stats}
    offsets: dict[int, tuple[int, int]] = {}
    start = 0
    for g in sorted(cnts):
        offsets[g] = (start, cnts[g])
        start += cnts[g]
    start_map = F.create_map(
        *[F.lit(x) for g in sorted(cnts) for x in (g, offsets[g][0])]
    )
    df = trained.select(
        "grp",
        (start_map[F.col("grp")] + F.col("sub")).cast("int").alias("cell"),
        "centroid",
    ).localCheckpoint()
    return CentroidFrame(S, offsets, df, start, dim, radii=radii)


def save_centroid_frame(
    cf: CentroidFrame, path: str, extra: dict | None = None
) -> CentroidFrame:
    """Persist a :class:`CentroidFrame` as ``centroids.parquet`` (the
    (grp, cell, centroid) table — written by the cluster, never
    collected) + ``manifest.json`` (the √k supers block, offsets,
    n_cells, dim — the driver-resident KBs). Rename-aside atomic, the
    same tmp+swap discipline as every other persisted track: a crash
    leaves the old model live or none, never a torn one. ``extra``
    merges caller fields into the manifest (e.g. a model id that a
    sink cross-checks against its index for crash consistency).
    Returns the frame RE-ROOTED on the persisted parquet, so the
    session no longer depends on the trainer's checkpoint blocks."""
    import json
    import os
    import shutil

    spark = cf.df.sparkSession
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cf.df.write.mode("overwrite").parquet(
        os.path.join(tmp, "centroids.parquet")
    )
    man = {
        "supers": [[float(x) for x in s] for s in cf.supers],
        "offsets": {
            str(g): [int(a), int(b)] for g, (a, b) in cf.offsets.items()
        },
        "n_cells": int(cf.n_cells),
        "dim": int(cf.dim),
    }
    if cf.radii is not None:
        man["radii"] = {str(g): float(r) for g, r in cf.radii.items()}
    if extra:
        man.update(extra)
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(man, f)
    old = path + ".old"
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return load_centroid_frame(spark, path)


def load_centroid_frame(spark, path: str) -> "CentroidFrame":
    """Re-open a persisted :class:`CentroidFrame`: manifest KBs to the
    driver, the centroid table as a LAZY parquet read (k rows — cheap
    per use, and never pinned, so a reopened store holds no
    checkpoint blocks for the model)."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "manifest.json"), encoding="utf-8") as f:
        man = json.load(f)
    pq = os.path.join(path, "centroids.parquet")
    spark.catalog.refreshByPath(pq)
    df = spark.read.parquet(pq)
    supers = np.asarray(man["supers"], dtype="float64")
    offsets = {
        int(g): (int(a), int(b)) for g, (a, b) in man["offsets"].items()
    }
    if "radii" in man:
        radii = {int(g): float(r) for g, r in man["radii"].items()}
    else:
        # pre-radius manifest: back-fill the exactness bound with one
        # √k-row pass over the persisted table (next save records it)
        bcS = spark.sparkContext.broadcast(supers)

        def grp_rad(pdf):
            import pandas as pd

            g = int(pdf["grp"].iloc[0])
            C = np.asarray(
                [list(v) for v in pdf["centroid"]], dtype="float64"
            )
            r = float(
                np.sqrt(((C - bcS.value[g][None, :]) ** 2).sum(axis=1)).max()
            )
            return pd.DataFrame({"grp": [g], "radius": [r]})

        radii = {
            int(r["grp"]): float(r["radius"])
            for r in df.groupBy("grp").applyInPandas(
                grp_rad, "grp int, radius double"
            ).collect()
        }
    return CentroidFrame(
        supers, offsets, df, int(man["n_cells"]), int(man["dim"]),
        radii=radii,
    )


def centroid_frame_manifest(path: str) -> dict:
    """The persisted model's manifest (driver KBs) without opening the
    centroid table — sinks read it to cross-check crash consistency."""
    import json
    import os

    with open(os.path.join(path, "manifest.json"), encoding="utf-8") as f:
        return json.load(f)


# Past this many cells the coarse model is a CentroidFrame: the
# O(n_cells·dim) table is neither collected nor broadcast. At or below
# it the model is a driver-side list of centroids, trained on the
# byte-identical driver path, so existing stores and pins replay. Tests
# that need the frame form at small scale lower this constant.
FRAME_MODEL_MIN_CELLS = SCALED_TRAIN_MIN_CELLS


def as_coarse_model(model):
    """Either coarse-model form, normalized: a :class:`CentroidFrame`
    as is, any (k, dim) array-like as a list of float lists (the form
    the ``.json`` file holds)."""
    if isinstance(model, CentroidFrame):
        return model
    return [[float(x) for x in c] for c in model]


def train_coarse_model(
    emb: DataFrame,
    n_cells: int,
    n_hint: int | None = None,
):
    """Train a tier's coarse model, picking the form by size: a
    :class:`CentroidFrame` past ``FRAME_MODEL_MIN_CELLS`` cells, a list
    of centroids otherwise. Every consumer (``build_nsw_index_ivf``,
    ``apply_delta_ivf``, ``nsw_knn_pruned``, ``nsw_knn_join``,
    :func:`save_coarse_model`) takes either form."""
    if n_cells > FRAME_MODEL_MIN_CELLS:
        return train_cell_centroids_frame(emb, n_cells=n_cells, n_hint=n_hint)
    return as_coarse_model(
        train_cell_centroids(emb, n_cells=n_cells, n_hint=n_hint)
    )


def coarse_model_meta(model) -> dict:
    """The tier-meta fields of either form: trained ``n_cells`` (may be
    fewer than asked on degenerate data) and ``model`` kind."""
    if isinstance(model, CentroidFrame):
        return {"n_cells": int(model.n_cells), "model": "frame"}
    return {"n_cells": len(model), "model": "ndarray"}


def coarse_model_path(base: str) -> str | None:
    """The file a model persisted under ``base`` lives in —
    ``base.frame`` (directory) or ``base.json`` — or None."""
    import os

    if os.path.exists(os.path.join(base + ".frame", "manifest.json")):
        return base + ".frame"
    return base + ".json" if os.path.exists(base + ".json") else None


def save_coarse_model(model, base: str, extra: dict | None = None):
    """Persist either form under ``base``: a :class:`CentroidFrame` as
    ``base.frame`` (:func:`save_centroid_frame`), a list model as
    ``base.json`` (temp file + rename). The other form's file is
    removed, so exactly one is on disk. ``extra`` fields (a sink's
    model id) go into the frame manifest, or wrap the json list as
    ``{"centroids": [...], **extra}``. Returns the model — a frame
    re-rooted on its persisted parquet."""
    import json
    import os
    import shutil

    js, frame = base + ".json", base + ".frame"
    if isinstance(model, CentroidFrame):
        model = save_centroid_frame(model, frame, extra)
        if os.path.exists(js):
            os.remove(js)
        return model
    tmp = js + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"centroids": model, **extra} if extra else model, f)
    os.replace(tmp, js)
    shutil.rmtree(frame, ignore_errors=True)
    return model


def _persisted_model_path(base: str) -> str:
    path = coarse_model_path(base)
    if path is None:
        raise FileNotFoundError(f"no coarse model persisted at {base}")
    return path


def _read_json_model(path: str) -> tuple[list, dict]:
    """(centroids, extra fields) of a ``.json`` model file."""
    import json

    with open(path, encoding="utf-8") as f:
        obj = json.load(f)
    if isinstance(obj, dict):
        return obj.pop("centroids"), obj
    return obj, {}


def load_coarse_model(spark, base: str):
    """Re-open the model :func:`save_coarse_model` persisted under
    ``base``, in the form it was saved."""
    path = _persisted_model_path(base)
    if path.endswith(".frame"):
        return load_centroid_frame(spark, path)
    return _read_json_model(path)[0]


def coarse_model_manifest(base: str) -> dict:
    """What the model under ``base`` records besides its centroids:
    the ``extra`` fields it was saved with (a sink's model id), plus a
    frame's own manifest fields. Empty for a plain json list."""
    path = _persisted_model_path(base)
    if path.endswith(".frame"):
        return centroid_frame_manifest(path)
    return _read_json_model(path)[1]


def drop_coarse_model(base: str) -> None:
    """Remove a model persisted under ``base``, in either form."""
    import os
    import shutil

    shutil.rmtree(base + ".frame", ignore_errors=True)
    if os.path.exists(base + ".json"):
        os.remove(base + ".json")


def _with_cell_frame(
    emb: DataFrame,
    cf: CentroidFrame,
    id_col: str,
    vec_col: str,
    n_hint: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment against a :class:`CentroidFrame`:
    each row probes its TWO_LEVEL_PROBES nearest NON-EMPTY supers (a
    scalar-iterator pandas udf against the broadcast √k block — empty
    supers are masked, so every row lands — that emits ONLY the probed
    group ids; a JVM explode does the ×probes fan-out, so vectors are
    never rebuilt as Python lists), and a cogroup on grp pairs each
    super-group's centroid block (~√k rows) with the rows probing it;
    one matmul per task finds the best cell in the block and emits the
    tiny (vec_id, cell, d2) verdict. A min_by reduce over those KBs
    keeps each row's global best — deterministic total order (d2
    ascending, cell ascending on ties), so build, delta and rebuild
    assign identically — and one equi-join re-attaches the embeddings
    from ``emb``. The row side hash-splits into
    ~SCALED_TRAIN_GROUP_ROWS slices so per-task memory is one block +
    one slice. ``emb`` is read twice (probe branch + re-attach
    branch); callers on expensive lineage should pin it first (build
    and delta paths pass parquet scans or local frames).

    Same output contract as ``_with_cell``: (cell, vec_id, embedding).
    A pure function of (row, model) — the probed set and the in-block
    choice go through the near-tie rescue, and the emitted d2 is
    always the fixed-order (einsum) distance of the chosen cell (the
    min_by reduce compares d2 across independently computed blocks, so
    a GEMM-batch-shaped ulp would leak straight into the winner; see
    ``_TIE_REL``) — so the delta ≡ rebuild contract holds WITHIN the
    CentroidFrame path (a tier built with a frame model must delta
    with the same frame model, like any other centroid change)."""
    import math

    import numpy as np

    spark = emb.sparkSession
    S = cf.supers
    valid = np.zeros(len(S), dtype=bool)
    for g in cf.offsets:
        valid[g] = True
    p = max(1, min(TWO_LEVEL_PROBES, int(valid.sum())))
    bc = spark.sparkContext.broadcast((S, valid, p))

    import pandas as pd
    from typing import Iterator

    def _probe_grps(it):
        SS, ok, pp = bc.value
        ss = (SS * SS).sum(axis=1)[None, :]
        for v_ser in it:
            if len(v_ser) == 0:
                yield pd.Series([], dtype="object")
                continue
            X = np.stack(v_ser.to_numpy()).astype("float64", copy=False)
            dS = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ SS.T) + ss
            dS[:, ~ok] = np.inf  # memberless supers never probed
            order = np.argsort(dS, axis=1, kind="stable")[:, :pp]
            # probed-SET rescue (see _TIE_REL): knife-edge boundary
            # rows re-rank on the pure distances so the probed set is
            # a pure function of (row, model) across batches
            if pp < dS.shape[1]:
                partS = np.partition(dS, (pp - 1, pp), axis=1)
                thrS = _TIE_REL * (
                    (X * X).sum(axis=1) + float(ss.max()) + 1.0
                )
                susS = (partS[:, pp] - partS[:, pp - 1]) <= thrS
                if susS.any():
                    dSp = _pure_d2(X[susS], SS, ss)
                    dSp[:, ~ok] = np.inf
                    order[susS] = np.argsort(
                        dSp, axis=1, kind="stable"
                    )[:, :pp]
            yield pd.Series(list(order.astype("int32")))

    # scalar-ITERATOR pandas udf; real typing objects (the module's
    # `from __future__ import annotations` would stringify inline
    # hints, which pyspark's eval-type inference can't resolve)
    _probe_grps.__annotations__ = {
        "it": Iterator[pd.Series], "return": Iterator[pd.Series]
    }
    probe_grps = F.pandas_udf(_probe_grps, "array<int>")

    # vectors NEVER leave the JVM for replication: the udf reads them
    # (the matmul must) but emits only the tiny probed-group arrays;
    # the ×p fan-out is a JVM-side explode. Two selects — the explode
    # lives apart from the udf so Generate can't re-evaluate it per
    # output row (the r4 explode lesson).
    probed = (
        emb.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            probe_grps(vec_col).alias("_grps"),
        )
        .select("vec_id", "v", F.explode("_grps").alias("grp"))
    )
    # bound per-task rows: global mean split (the small-corpus branch
    # of seed_assign_scaled); the block replicates per slice — √k rows
    # next to the row traffic it rides with. Callers that know the row
    # count pass n_hint — the count() here is a full extra scan of
    # possibly unpinned lineage, on the path designed for corpus scale
    n = n_hint if n_hint is not None else emb.count()
    n_sub = max(
        1,
        int(
            math.ceil(
                (n * p / max(1, len(cf.offsets))) / SCALED_TRAIN_GROUP_ROWS
            )
        ),
    )
    probed = probed.withColumn(
        "sub", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_sub)).cast("int")
    )
    blocks = cf.df.withColumn(
        "sub", F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1)))
    )

    def best_in_block(block_pdf, rows_pdf):
        import pandas as pd

        if len(block_pdf) == 0 or len(rows_pdf) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int32"),
                    "d2": pd.Series([], dtype="float64"),
                }
            )
        # sort the block by cell id: argmin's first-minimum then IS the
        # lowest-cell tie rule, independent of partitioning
        block_pdf = block_pdf.sort_values("cell").reset_index(drop=True)
        C = np.stack(block_pdf["centroid"].to_numpy()).astype(np.float64)
        cells = block_pdf["cell"].to_numpy()
        X = np.stack(
            [np.asarray(v, dtype="float64") for v in rows_pdf["v"]]
        )
        cc = (C * C).sum(axis=1)[None, :]
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cc
        j = d2.argmin(axis=1)
        # near-tie rescue + pure emitted distance (see _TIE_REL): the
        # in-block choice re-decides on the pure distances when the
        # top-2 gap is inside the threshold band, and the d2 column is
        # ALWAYS the einsum value of the chosen centroid — the min_by
        # reduce compares these across independently computed blocks,
        # so they must be pure functions of (row, model), not of this
        # block's GEMM batch shape
        j, d2x = _argmin_rescued(X, C, d2, j, cc, want_d2=True)
        return pd.DataFrame(
            {
                "vec_id": rows_pdf["vec_id"].to_numpy(),
                "cell": cells[j].astype("int32"),
                "d2": d2x,
            }
        )

    # the cogroup emits only (vec_id, cell, d2) — tiny rows, so the
    # winner reduce shuffles KBs instead of the ×p vector traffic, and
    # the embeddings re-attach with one join whose small side (the
    # winner table) AQE broadcasts. Vectors therefore cross Python once
    # (the block matmul) and are never rebuilt as Python lists.
    cand = (
        blocks.groupby("grp", "sub")
        .cogroup(probed.groupby("grp", "sub"))
        .applyInPandas(
            best_in_block,
            "vec_id long, cell int, d2 double",
        )
    )
    best = cand.groupBy("vec_id").agg(
        F.min_by(
            F.col("cell"), F.struct(F.col("d2"), F.col("cell"))
        ).alias("cell")
    )
    return (
        emb.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        .join(best, "vec_id")
        .select("cell", "vec_id", "embedding")
    )


def _probe_cells_frame(
    queries: DataFrame,
    cf: CentroidFrame,
    probes: int,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Batch query→probed-cells against a :class:`CentroidFrame` —
    EXACT when the frame carries group radii (every trained/loaded
    frame does): the probed (query, cell) set provably equals what
    nsw_knn_join's ndarray path computes with its full broadcast
    matmul, ties included. Per query the probe udf covers ≥ ``probes``
    cells by the UPPER bound ``(‖q−S_g‖+r_g)²`` (every cell of g is
    within r_g of its super), takes U = the worst cover bound — so at
    least ``probes`` cells are ≤ U — and emits every group whose LOWER
    bound ``(‖q−S_g‖−r_g)²`` ≤ U: a group outside that set cannot hold
    a top-``probes`` cell. One pass, no thresholds to feed back. The
    udf emits only group-id arrays (a JVM explode fans out — vectors
    are never rebuilt as Python lists); a cogroup pairs each group's
    centroid block with its query slice, emits the tiny per-group
    top-``probes`` (query_id, cell, d2) verdicts, one window keeps the
    global top-``probes`` by (d2, cell) — the ndarray path's tie rule
    — and a join re-attaches the query vectors. A radius-less legacy
    frame degrades to the two-level heuristic (nearest supers until ≥
    probes cells, floor TWO_LEVEL_PROBES). Returns (query_id, cell, q)
    like the broadcast probe."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = queries.sparkSession
    S = cf.supers
    valid = np.zeros(len(S), dtype=bool)
    cnt = np.zeros(len(S), dtype="int64")
    rad = np.zeros(len(S), dtype="float64")
    for g, (_, c) in cf.offsets.items():
        valid[g] = True
        cnt[g] = c
        if cf.radii is not None:
            rad[g] = float(cf.radii[g])
    need = max(1, probes)
    exact = cf.radii is not None
    if not exact:
        # legacy heuristic: fixed nearest-super count sized so the
        # pool can cover `probes` cells even when groups are small
        sizes = sorted(c for _, c in cf.offsets.values())
        pp, have = 0, 0
        for c in sizes:
            pp += 1
            have += c
            if have >= need and pp >= min(TWO_LEVEL_PROBES, len(sizes)):
                break
        pp = max(1, min(max(pp, TWO_LEVEL_PROBES), int(valid.sum())))
    else:
        pp = 0
    bc = spark.sparkContext.broadcast((S, valid, cnt, rad, exact, pp))

    def _probe_grps(it):
        SS, ok, cc, rr, ex, p_sup = bc.value
        ss = (SS * SS).sum(axis=1)[None, :]
        for v_ser in it:
            if len(v_ser) == 0:
                yield pd.Series([], dtype="object")
                continue
            X = np.stack(v_ser.to_numpy()).astype("float64", copy=False)
            dS = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ SS.T) + ss
            dS[:, ~ok] = np.inf
            if not ex:
                order = np.argsort(dS, axis=1, kind="stable")[:, :p_sup]
                yield pd.Series(list(order.astype("int32")))
                continue
            sd = np.sqrt(np.maximum(dS, 0.0))
            lb = np.maximum(sd - rr[None, :], 0.0) ** 2
            ub = (sd + rr[None, :]) ** 2
            lb[:, ~ok] = np.inf
            ub[:, ~ok] = np.inf
            # cover >= need cells by ub, then keep every group whose
            # lb ties-or-beats the worst cover bound U (exactness: a
            # group with lb > U cannot hold a top-`need` cell, since
            # >= need cells already sit at distance <= U)
            o = np.argsort(ub, axis=1, kind="stable")
            csum = np.cumsum(cnt[o], axis=1)
            m = np.argmax(csum >= need, axis=1)
            short = csum[:, -1] < need  # fewer cells than probes
            U = ub[np.arange(len(X))[:, None], o][
                np.arange(len(X)), m
            ]
            U[short] = np.inf
            out = []
            for i in range(len(X)):
                out.append(
                    np.nonzero(lb[i] <= U[i])[0].astype("int32")
                )
            yield pd.Series(out)

    _probe_grps.__annotations__ = {
        "it": Iterator[pd.Series], "return": Iterator[pd.Series]
    }
    probe_grps = F.pandas_udf(_probe_grps, "array<int>")

    q_probed = (
        queries.select(
            F.col(query_id_col).cast("bigint").alias(query_id_col),
            F.col(query_vec_col).cast("array<double>").alias("q"),
            probe_grps(query_vec_col).alias("_grps"),
        )
        .select(query_id_col, "q", F.explode("_grps").alias("grp"))
    )

    n_probe = need

    def top_in_block(block_pdf, q_pdf):
        if len(block_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {
                    query_id_col: pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int32"),
                    "d2": pd.Series([], dtype="float64"),
                }
            )
        block_pdf = block_pdf.sort_values("cell").reset_index(drop=True)
        C = np.stack(block_pdf["centroid"].to_numpy()).astype(np.float64)
        cells = block_pdf["cell"].to_numpy()
        X = np.stack([np.asarray(v, dtype="float64") for v in q_pdf["q"]])
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        t = min(n_probe, d2.shape[1])
        # block sorted by cell: stable argsort ties to the lowest cell
        top = np.argsort(d2, axis=1, kind="stable")[:, :t]
        rows = np.repeat(np.arange(len(X)), t)
        cols = top.reshape(-1)
        return pd.DataFrame(
            {
                query_id_col: q_pdf[query_id_col].to_numpy()[rows],
                "cell": cells[cols].astype("int32"),
                "d2": d2[rows, cols],
            }
        )

    # tiny verdicts through the window (the ×groups vector replication
    # never reaches the shuffle-out side); the query vectors re-attach
    # with one equi-join at the end
    cand = (
        cf.df.groupby("grp")
        .cogroup(q_probed.groupby("grp"))
        .applyInPandas(
            top_in_block,
            f"{query_id_col} long, cell int, d2 double",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    kept = (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select(query_id_col, "cell")
    )
    return kept.join(
        queries.select(
            F.col(query_id_col).cast("bigint").alias(query_id_col),
            F.col(query_vec_col).cast("array<double>").alias("q"),
        ),
        query_id_col,
    ).select(query_id_col, "cell", "q")


# Past this many cells the flat assignment matmul (O(n_cells · d) per
# row) stops being the cheap part of the build: a corpus-sized tier at
# 100 TB wants ~10^5-10^6 cells, and the flat form would burn
# n · n_cells · d flops in one pass. _with_cell then routes through the
# two-level form below — O(sqrt(n_cells) · probes · d) per row, the
# same IVF-of-the-centroids shape as semdedup.seed_assign_scaled.
TWO_LEVEL_MIN_CELLS = 1024
TWO_LEVEL_PROBES = 2

# A delta whose distinct-id set fits comfortably on the driver (8 bytes
# an id — ~2 MB at this bound) materializes it as a LOCAL relation so
# the delta's several broadcast joins skip their AQE build-stage jobs;
# per-commit orchestration is serving overhead (VERDICT r9 #4).
DRIVER_DELTA_IDS_MAX = 262144

# Driver-LITERAL expressions over cell ids (isin pruning filters, the
# regime-probe create_map, the append-cell isin) are cheap static
# pruning for the per-commit norm, but their size is the expression
# tree's size: a wide tombstone sweep touching 10^5-10^6 cells would
# hand the analyzer/codegen a CreateMap/In with that many literals
# (ADVICE r10). Above this bound the same sets ride broadcast joins
# instead — one AQE stage job each, amortized by a delta that large.
DRIVER_DELTA_CELLS_MAX = 4096


# Near-tie rescue threshold for coarse assignment: decisions whose
# winner-vs-runner-up d2 gap is below _TIE_REL x (row scale) are re-made
# on the fixed-order (einsum) distances. BLAS GEMM blocks by matrix
# SHAPE, so the same row in a different batch (delta vs rebuild, or a
# different position after repartitioning) can come back with its last
# ulps flipped — measured in scratch/blas_batch_determinism.py — and a
# knife-edge argmin then breaks the bitwise delta == rebuild contract
# (caught by test_above_clamp_cells_delta_equals_rebuild_and_recall at
# ~1.5 rows/cell). The threshold sits ~4 decades above the GEMM
# deviation (~d·eps ≈ 1e-13 relative) and far below any gap that could
# legitimately flip, so EITHER branch decides identically in the
# crossover band: gap > thr ⇒ GEMM's argmin is already batch-stable;
# gap <= thr ⇒ the einsum recompute is a pure function of (row, model).
_TIE_REL = 1e-9


def _pure_d2(X, C, cc=None):
    """Batch/position/thread-independent squared distances: np.einsum
    (without optimize=True) never dispatches to BLAS, so every output
    element is a fixed-order reduction over dim — a pure function of
    (row, centroids), unlike the GEMM form (see _TIE_REL above). Slower
    than GEMM; used for near-tie rescues and single rows only."""
    import numpy as np

    if cc is None:
        cc = (C * C).sum(axis=1)[None, :]
    return (
        (X * X).sum(axis=1)[:, None]
        - 2.0 * np.einsum("ij,kj->ik", X, C)
        + cc
    )


def _tie_thr(X, ccmax):
    """Per-row absolute near-tie threshold (see _TIE_REL): scaled by
    the row's squared norm + the largest centroid norm so it tracks the
    magnitude of the d2 values being compared."""
    return _TIE_REL * ((X * X).sum(axis=1) + float(ccmax) + 1.0)


def _argmin_rescued(X, C, d2, cell, cc, want_d2=False):
    """First-minimum argmin over GEMM distances with the near-tie
    rescue applied in place: rows whose top-2 gap is inside the
    threshold band re-decide on _pure_d2. With ``want_d2`` the second
    return is the einsum distance of the chosen centroid — pure, so
    callers may compare it across independently computed batches
    (min_by over per-block verdicts); without it, None."""
    import numpy as np

    if C.shape[0] > 1:
        part = np.partition(d2, 1, axis=1)
        sus = (part[:, 1] - part[:, 0]) <= _tie_thr(X, cc.max())
        if sus.any():
            cell[sus] = _pure_d2(X[sus], C, cc).argmin(axis=1)
    if not want_d2:
        return cell, None
    chosen = C[cell]
    d2x = (
        (X * X).sum(axis=1)
        - 2.0 * np.einsum("ij,ij->i", X, chosen)
        + cc.ravel()[cell]
    )
    return cell, d2x


def _flat_fallback(X, C, best_d, best_c):
    """Resolve rows the two-level probe could NOT assign (every probed
    super-group memberless — possible only when k-means drained supers,
    so tiny by construction): a flat argmin over ALL centroids, exactly
    the exact path's rule. Parking such rows in a fixed cell would be
    wrong, not just suboptimal — query-time probing selects cells by
    centroid DISTANCE, so a row far from that cell's centroid is found
    only when the cell happens to be probed. Mutates (best_d, best_c)
    in place for the unresolved rows; returns them."""
    import numpy as np

    miss = ~np.isfinite(best_d)
    if miss.any():
        Xm = X[miss]
        cc = (C * C).sum(axis=1)[None, :]
        d2 = (Xm * Xm).sum(axis=1)[:, None] - 2.0 * (Xm @ C.T) + cc
        j = d2.argmin(axis=1)  # first min = lowest cell id (tie rule)
        j, d2x = _argmin_rescued(Xm, C, d2, j, cc, want_d2=True)
        best_c[miss] = j.astype("int64")
        best_d[miss] = d2x
    return best_d, best_c


def _with_cell(
    emb: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    n_hint: int | None = None,
) -> DataFrame:
    """(cell, vec_id, embedding): nearest-centroid assignment, one
    Arrow-batched NumPy matmul per batch, no shuffle. Ties break to the
    lowest cell id (argmin takes the first minimum). Above
    ``TWO_LEVEL_MIN_CELLS`` cells the assignment is two-level (see
    ``_with_cell_two_level``) — still a pure deterministic function of
    (row, centroids), so build / delta / rebuild all agree. A
    :class:`CentroidFrame` routes to the DataFrame-resident cogroup
    form (``_with_cell_frame``) — the past-broadcast-bound path;
    ``n_hint`` (the row count, when the caller knows it) saves that
    path's split-sizing count job."""
    import numpy as np

    if isinstance(centroids, CentroidFrame):
        return _with_cell_frame(emb, centroids, id_col, vec_col, n_hint)
    C = np.asarray(centroids, dtype="float64")
    if len(C) > TWO_LEVEL_MIN_CELLS:
        return _with_cell_two_level(emb, C, id_col, vec_col)
    bc = emb.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        import pandas as pd

        C = bc.value
        cc = (C * C).sum(axis=1)[None, :]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(
                "float64", copy=False
            )  # stack beats per-row list() 4x; values identical
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * X @ C.T + cc
            cell = d2.argmin(axis=1)
            cell, _ = _argmin_rescued(X, C, d2, cell, cc)
            yield pd.DataFrame(
                {
                    "cell": cell.astype("int32"),
                    "vec_id": pdf[id_col].astype("int64"),
                    # pass the Arrow-decoded arrays straight through —
                    # the per-element float() rebuild cost ~30x
                    "embedding": pdf[vec_col],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        assign, "cell int, vec_id bigint, embedding array<double>"
    )


def assign_cells(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_hint: int | None = None,
) -> DataFrame:
    """Public coarse-assignment entry: (cell, vec_id, embedding) for
    every row of ``emb`` against any model form — ndarray (flat or
    two-level past ``TWO_LEVEL_MIN_CELLS``) or :class:`CentroidFrame`
    (the DataFrame-resident cogroup path). The step an ingest pipeline
    runs to route vectors into serving cells; build/delta use the same
    function, so external assignment agrees with the index's."""
    return _with_cell(emb, centroids, id_col, vec_col, n_hint)


def _with_cell_two_level(
    emb: DataFrame, C, id_col: str, vec_col: str
) -> DataFrame:
    """Two-level nearest-centroid assignment for LARGE cell counts: an
    IVF over the centroids themselves. The flat matmul is O(n_cells·d)
    per row — at the 10^5-10^6 cells a 100 TB corpus-sized tier wants,
    that multiplies the whole build by n_cells. Here ~sqrt(k)
    super-centroids are trained ON the centroid array (driver-side,
    k·sqrt(k)·d flops — bounded), each centroid joins its nearest
    super-group, and a row probes its TWO_LEVEL_PROBES nearest
    super-groups and takes the argmin over only those groups' members:
    O((sqrt(k) + probes·sqrt(k))·d) per row. Same shape as
    semdedup.seed_assign_scaled, and the same trade — a row whose true
    nearest centroid lives in an unprobed super-group lands in its
    best PROBED cell, which for an IVF coarse quantizer only shifts a
    cell boundary (search recall is governed by query-time probes, not
    assignment exactness; pinned on the clustered fixtures).

    Determinism contract: a pure function of (row, centroids) — super
    k-means is seeded, super/group argmins take the first minimum,
    cross-group ties break to the LOWEST cell id (the exact path's
    rule), and every knife-edge decision (probed-set boundary, winner
    vs runner-up) is re-made on fixed-order distances via the near-tie
    rescue (see ``_TIE_REL``: GEMM's shape-dependent blocking is NOT
    batch-stable in the last ulps) — so build, delta-apply, and a full
    rebuild assign every row identically and delta == rebuild survives
    the routing. The
    broadcast is O(k·d) doubles (the centroid table itself) — the one
    remaining size bound; raise target_cell_rows before it hurts."""
    import math

    import numpy as np

    from ..functions.vector import lloyd_kmeans

    s = max(1, int(math.ceil(math.sqrt(len(C)))))
    S = lloyd_kmeans(C, s, seed=42)
    d2cs = (
        (C * C).sum(axis=1)[:, None]
        - 2.0 * (C @ S.T)
        + (S * S).sum(axis=1)[None, :]
    )
    grp = d2cs.argmin(axis=1)
    members = [np.flatnonzero(grp == g) for g in range(len(S))]
    p = max(1, min(TWO_LEVEL_PROBES, len(S)))
    bc = emb.sparkSession.sparkContext.broadcast((C, S, members, p))

    def assign(batches):
        import pandas as pd

        C, S, members, p = bc.value
        ss = (S * S).sum(axis=1)[None, :]
        subs = [
            (C[m], (C[m] * C[m]).sum(axis=1)[None, :]) if len(m) else None
            for m in members
        ]
        ccM = float((C * C).sum(axis=1).max())
        for pdf in batches:
            b = len(pdf)
            if b == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(
                "float64", copy=False
            )  # stack beats per-row list() 4x; values identical
            x2 = (X * X).sum(axis=1)[:, None]
            dS = x2 - 2.0 * (X @ S.T) + ss
            # stable sort: equal super distances break to the lower id
            top = np.argsort(dS, axis=1, kind="stable")[:, :p]
            # probed-SET rescue (see _TIE_REL): a knife-edge gap at the
            # p boundary could flip which supers a row probes between
            # two GEMM batches; such rows re-rank on the pure distances
            if p < dS.shape[1]:
                partS = np.partition(dS, (p - 1, p), axis=1)
                thrS = _TIE_REL * (x2[:, 0] + float(ss.max()) + 1.0)
                susS = (partS[:, p] - partS[:, p - 1]) <= thrS
                if susS.any():
                    dSp = _pure_d2(X[susS], S, ss)
                    top[susS] = np.argsort(
                        dSp, axis=1, kind="stable"
                    )[:, :p]
            best_d = np.full(b, np.inf)
            best_c = np.zeros(b, dtype="int64")
            sec_d = np.full(b, np.inf)  # global runner-up distance
            for g in range(len(S)):
                if subs[g] is None:
                    continue
                mask = (top == g).any(axis=1)
                if not mask.any():
                    continue
                Xg = X[mask]
                Cg, cc = subs[g]
                d2 = (
                    (Xg * Xg).sum(axis=1)[:, None]
                    - 2.0 * (Xg @ Cg.T)
                    + cc
                )
                j = d2.argmin(axis=1)  # first min = lowest id in-group
                dmin = d2[np.arange(len(Xg)), j]
                cells = members[g][j]
                if d2.shape[1] > 1:
                    g2 = np.partition(d2, 1, axis=1)[:, 1]
                else:
                    g2 = np.full(len(Xg), np.inf)
                cur_d, cur_c = best_d[mask], best_c[mask]
                cur_s = sec_d[mask]
                upd = (dmin < cur_d) | ((dmin == cur_d) & (cells < cur_c))
                # runner-up merge: when the group wins, the loser of
                # the best comparison or the group's own second; when
                # it loses, its min still bounds the runner-up
                new_s = np.where(
                    upd, np.minimum(cur_d, g2), np.minimum(cur_s, dmin)
                )
                cur_d[upd], cur_c[upd] = dmin[upd], cells[upd]
                best_d[mask], best_c[mask] = cur_d, cur_c
                sec_d[mask] = new_s
            # a row all of whose probed groups were memberless
            # (possible only when k-means drained supers) falls back to
            # the FLAT argmin over all centroids — the exact path's
            # rule, still deterministic, and the row stays findable at
            # query time (probing ranks cells by centroid distance)
            _flat_fallback(X, C, best_d, best_c)
            # final near-tie rescue (see _TIE_REL): rows whose winner
            # vs global runner-up gap is inside the threshold band
            # re-decide lexicographically on the pure distances over
            # every probed group's members — a pure function of
            # (row, model), so delta/build/rebuild agree bitwise
            fin_thr = _TIE_REL * (x2[:, 0] + ccM + 1.0)
            sus = np.flatnonzero(
                np.isfinite(sec_d) & ((sec_d - best_d) <= fin_thr)
            )
            for i in sus:
                xi = X[i : i + 1]
                bd, bc2 = np.inf, -1
                for g in top[i]:
                    if subs[g] is None:
                        continue
                    Cg, cc = subs[g]
                    d2i = _pure_d2(xi, Cg, cc)[0]
                    jj = int(d2i.argmin())
                    di, ci = float(d2i[jj]), int(members[g][jj])
                    if (di < bd) or (di == bd and ci < bc2):
                        bd, bc2 = di, ci
                best_d[i], best_c[i] = bd, bc2
            yield pd.DataFrame(
                {
                    "cell": best_c.astype("int32"),
                    "vec_id": pdf[id_col].astype("int64"),
                    # pass the Arrow-decoded arrays straight through —
                    # the per-element float() rebuild cost ~30x
                    "embedding": pdf[vec_col],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        assign, "cell int, vec_id bigint, embedding array<double>"
    )


def build_nsw_index_ivf(
    emb: DataFrame,
    centroids,
    m: int = 16,
    ef_construction: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_shard_rows: int = 25000,
    stride: int = 1024,
    n_hint: int | None = None,
) -> DataFrame:
    """Build the IVF-cell-sharded graph: (cell, shard, vec_id,
    neighbors, embedding).

    Each vector joins its nearest centroid's cell; a cell larger than
    ``max_shard_rows`` splits into id-hash sub-shards so no single
    Arrow batch (and no single build task) outgrows executor memory —
    skewed clusters cost extra shards, never an OOM (hash balance makes
    the cap an expectation; size the cap with headroom). ``shard`` is
    globally unique via a FIXED encoding (cell * stride + sub) — not a
    data-dependent max — so a cell's shard ids are a pure function of
    that cell's own contents: ``apply_delta_ivf`` can rebuild touched
    cells in isolation and still equal a full rebuild row-for-row.
    ``stride`` caps sub-shards per cell (a cell needing more than
    stride sub-shards raises: raise stride or max_shard_rows; int32
    shard ids bound cells at 2^31/stride ≈ 2M cells at the default).
    ``cell`` is the pruning key — persist the output
    ``partitionBy("cell")`` and the query-time ``isin(probed cells)``
    becomes a planning-time PartitionFilter.

    The assignment pass is localCheckpointed: the per-cell size count
    (one tiny agg — n_cells rows) and the graph build both read it,
    and re-running the NumPy assignment kernel twice would double the
    one genuinely heavy map stage. Build is a once-per-corpus cost.
    ``n_hint`` (the corpus row count, when the caller knows it) saves
    the frame-model path's split-sizing count job."""
    assigned = _with_cell(
        emb, centroids, id_col, vec_col, n_hint
    ).localCheckpoint()
    return _build_cells(assigned, m, ef_construction, max_shard_rows, stride)


def _build_cells(
    assigned: DataFrame,
    m: int,
    ef_construction: int,
    max_shard_rows: int,
    stride: int,
    cell_counts: dict[int, int] | None = None,
) -> DataFrame:
    """(cell, vec_id, embedding) → per-(cell, sub-shard) NSW graphs.
    Shard = cell * stride + id-hash sub-shard; sub-shard count is a
    pure function of the CELL's row count, so rebuilding any subset of
    cells reproduces exactly what a full rebuild gives those cells.

    ``cell_counts``: per-cell row counts of ``assigned`` when the
    caller already knows them (the delta path's planning agg computed
    exactly these) — skips the counting job AND lets the caller skip
    pinning ``assigned`` (it then has a single consumer). ``None``
    counts with one agg (the full-build path, where the input is
    pinned because the count and the build both read it)."""
    import math

    if cell_counts is None:
        rows = assigned.groupBy("cell").count().collect()  # n_cells rows
        cell_counts = {int(r["cell"]): int(r["count"]) for r in rows}
    subs = {
        c: max(1, math.ceil(n / max_shard_rows))
        for c, n in cell_counts.items()
        if n > 0
    }
    over = {c: s for c, s in subs.items() if s > stride}
    if over:
        raise ValueError(
            f"cells need more than stride={stride} sub-shards: {over}; "
            "raise stride or max_shard_rows"
        )
    spark = assigned.sparkSession
    subs_df = local_frame(
        spark, sorted(subs.items()), "cell int, subs int"
    ).coalesce(1)
    sharded = (
        assigned.join(F.broadcast(subs_df), "cell")
        .withColumn(
            "shard",
            (
                F.col("cell").cast("long") * F.lit(stride)
                + F.pmod(F.hash(F.col("vec_id")), F.col("subs"))
            ).cast("int"),
        )
        .drop("subs")
    )
    if cell_counts is not None:
        # delta-path caller: the build-task count is driver-known
        # (Σ sub-shards of the cells being rebuilt) — size the kernel
        # shuffle from it instead of spark.sql.shuffle.partitions so a
        # small delta's rebuild doesn't schedule a fleet of empty
        # reduce tasks (clustering-only requirement: no extra exchange)
        total_subs = sum(subs.values())
        sharded = sharded.repartition(
            max(1, min(2048, total_subs)), "cell", "shard"
        )
    return sharded.groupBy("cell", "shard").applyInPandas(
        _cell_shard_builder(m, ef_construction), CELL_GRAPH_SCHEMA
    )


def _cell_shard_builder(m: int, ef_construction: int):
    """Grouped-map fn over one (cell, shard) Arrow batch — the SAME
    builder for full builds and sub-granular deltas, so a rebuilt
    sub-shard is bit-identical however it was reached."""
    inner = _shard_builder(m, ef_construction)

    def build(pdf):
        out = inner(pdf.drop(columns=["cell"]))
        out.insert(0, "cell", pdf["cell"].iloc[0])
        return out

    return build


def _cell_shard_delta_builder(m: int, ef_construction: int):
    """Delta kernel with the APPEND fast path: rows arrive with an
    optional ``neighbors`` column — non-null on the surviving old rows
    of driver-verified append cells (nothing removed/replaced, every
    new id above the cell's stored max), null on delta rows and on
    cells the driver could not verify. When every old row carries its
    stored adjacency and every new id exceeds every old id, the stored
    graph IS the construction prefix of a full rebuild (identical
    id-sorted rows through the identical deterministic insert loop),
    so the kernel resumes the loop at the first new node — O(new ·
    beam) instead of O(all · beam) — then recomputes the entry cover
    (a pure function of the final adjacency, so byte-equality to the
    rebuild survives). Any other shape falls back to the full
    ``_shard_builder`` rebuild. Equality to rebuild is pinned for both
    paths in tests/test_hnsw_ivf.py."""

    def build(pdf):
        import numpy as np
        import pandas as pd

        cell = pdf["cell"].iloc[0]
        has_nbr = pdf["neighbors"].notna()
        old_pdf = pdf[has_nbr]
        new_pdf = pdf[~has_nbr]
        if (
            len(old_pdf) == 0
            or len(new_pdf) == 0
            or int(new_pdf["vec_id"].min()) <= int(old_pdf["vec_id"].max())
        ):
            inner = _shard_builder(m, ef_construction)
            out = inner(pdf.drop(columns=["cell", "neighbors"]))
            out.insert(0, "cell", cell)
            return out
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n_old = len(old_pdf)
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        adj = [
            [pos[int(w)] for w in row] if row is not None else []
            for row in pdf["neighbors"]
        ]
        # resume _build_shard's loop at the first appended node — the
        # exact statements of the rebuild path, including the backlink
        # prune that may rewrite OLD rows (as the rebuild would)
        for i in range(n_old, len(vecs)):
            found = _beam_search(vecs, adj, 0, vecs[i], ef_construction)
            links = [v for _, v in found[:m]]
            adj[i] = links
            for v in links:
                adj[v].append(i)
                if len(adj[v]) > 2 * m:  # M0 = 2*M, src/vec.rs:22-28
                    nbrs = adj[v]
                    diffs = vecs[nbrs] - vecs[v]
                    dd = np.einsum("ij,ij->i", diffs, diffs)
                    dists = sorted(
                        (float(d), w) for d, w in zip(dd, nbrs)
                    )
                    adj[v] = [w for _, w in dists[: 2 * m]]
        entry = np.zeros(len(ids), dtype=bool)
        entry[_entry_cover(adj)] = True
        return pd.DataFrame(
            {
                "cell": cell,
                "shard": pdf["shard"],
                "vec_id": ids,
                "neighbors": [
                    [int(ids[v]) for v in row] for row in adj
                ],
                "embedding": list(pdf["embedding"]),
                "entry": entry,
            }
        )

    return build


def apply_delta_ivf(
    index: DataFrame,
    new_emb: DataFrame,
    centroids,
    m: int = 16,
    ef_construction: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_shard_rows: int = 25000,
    stride: int = 1024,
    deletes: DataFrame | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """Incremental IVF-index maintenance: assign the delta to cells
    (same centroids — the coarse model is immutable between retrains;
    see ``ivf_needs_retrain`` for the drift policy), rebuild ONLY the
    touched cells from their surviving old rows + the delta, and pass
    every untouched cell through unchanged. Because a cell's sub-shard
    count and shard ids are pure functions of that cell's own contents
    (fixed-stride encoding), delta-apply equals a full rebuild of
    (old ∖ deletes ∖ delta-ids) ∪ delta row-for-row — the same
    idempotence contract as ``apply_delta`` (mutation.rs:913-918;
    tombstones mirror the reference's rebuild-from-TOC-after-vacuum,
    mutation.rs:2999-3084). UPSERT semantics: a delta row whose vec_id
    already exists replaces the old row even when the new embedding
    lands in a DIFFERENT cell (the old cell is touched too — duplicate
    graph nodes would silently corrupt the id→position map in search);
    an id in both ``deletes`` and the delta lands as the delta row.
    At warehouse scale this is a partition overwrite of the touched
    ``cell=`` directories: O(delta-touched cells), not O(corpus) —
    ``apply_delta_ivf_parts`` exposes exactly the pieces such a sink
    writes (streaming/annsink.py is one). ``n_hint`` is the delta's
    row count when the caller knows it (skips the bounded planning
    take on batches known to exceed the driver-id bound, and the
    frame-model assignment's split-sizing count)."""
    keep, rebuilt, _, _ = _delta_ivf_parts(
        index, new_emb, centroids, m, ef_construction, id_col, vec_col,
        max_shard_rows, stride, deletes, n_hint,
    )
    return keep.unionByName(rebuilt)


def apply_delta_ivf_parts(
    index: DataFrame,
    new_emb: DataFrame,
    centroids,
    m: int = 16,
    ef_construction: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_shard_rows: int = 25000,
    stride: int = 1024,
    deletes: DataFrame | None = None,
    n_hint: int | None = None,
) -> tuple[DataFrame, list[int], list[int]]:
    """``apply_delta_ivf`` decomposed for partition-overwrite sinks:
    returns (rebuilt rows of the touched cells, touched cell ids,
    built cell ids). A sink holding the index ``partitionBy("cell")``
    writes ONLY the rebuilt rows with dynamic partition overwrite and
    clears the directories of ``touched ∖ built`` — the cells the
    rebuild drained (dynamic overwrite skips partitions with zero
    output rows). O(touched cells) I/O per delta instead of rewriting
    the corpus. Both lists are delta-bounded and already
    driver-resident (the planning agg computed them — the sink pays
    no checkpoint job and no distinct-cells probe over the rebuilt
    rows to learn which directories drained)."""
    _, rebuilt, touched, built = _delta_ivf_parts(
        index, new_emb, centroids, m, ef_construction, id_col, vec_col,
        max_shard_rows, stride, deletes, n_hint,
    )
    return rebuilt, sorted(touched), sorted(built)


def _delta_ivf_parts(
    index: DataFrame,
    new_emb: DataFrame,
    centroids,
    m: int,
    ef_construction: int,
    id_col: str,
    vec_col: str,
    max_shard_rows: int,
    stride: int,
    deletes: DataFrame | None,
    n_hint: int | None = None,
) -> tuple[DataFrame, DataFrame, list[int], list[int]]:
    """(keep = untouched cells, rebuilt = cell-complete new content of
    every touched cell, touched = the tiny cell-id LIST, built = the
    touched cells whose rebuild has ≥1 row — touched ∖ built drained)
    — see ``apply_delta_ivf``.

    Sub-shard granularity: a touched cell whose sub-shard count does
    NOT change (ceil(old/max_shard_rows) == ceil(new/max_shard_rows))
    rebuilds only the sub-shards that hold a changed id — sub
    membership is a pure id-hash at fixed n_subs, so every other
    sub-shard's graph is byte-identical in a full rebuild and passes
    through from the old index unrebuilt. Delta kernel work becomes
    O(changed sub-shards · max_shard_rows), not O(touched cell): a
    100-row delta against a 1M-row cell rebuilds ≤100 bounded
    sub-graphs, not 40. A cell whose count crosses a sub-shard
    boundary (or is brand new / drained) falls back to the whole-cell
    rebuild — the resharding case, where every sub's membership moves.
    The ``rebuilt`` side stays CELL-COMPLETE either way (pass-through
    subs ride along), so a partition-overwrite sink can still write
    whole ``cell=`` directories.

    Orchestration discipline (VERDICT r9 #4, r10 #3): a delta is
    per-COMMIT serving overhead, so the PLANNING must not cost more
    jobs than the kernel. One corpus-scan aggregate yields per-cell
    (rows, gone rows, max id, observed shard set, gone shard set) —
    touched-cell discovery, the eligibility accounting, the APPEND
    verification, the shard-REGIME check, and the gone-sub-shard set
    in a single pass; the delta side is ONE bounded take (ids, cells,
    shard hashes — add counts, the upsert id set, and the target
    sub-shards are driver arithmetic from it); the touched-row pin
    reads via a driver-literal ``isin`` so a cell-partitioned parquet
    index prunes at PLANNING time (above ``DRIVER_DELTA_CELLS_MAX``
    touched cells the literal forms fall back to broadcast joins —
    a 10^5-literal In/CreateMap is a plan-analysis/codegen blowup);
    the tiny derived sets (gone ids, touched sub-shards, small-delta
    id sets) become LOCAL relations so their broadcast joins cost no
    AQE build-stage job. The per-row regime probe runs ONLY for
    eligible multi-sub cells whose observed shard set passed the
    driver range check but can't prove per-row membership (nsubs ≥ 2)
    — at single-sub cell sizes the range check is exact and the probe
    job disappears. Delta ≡ rebuild, tombstone, resharding, regime,
    and append pins all green across both forms."""
    import math

    spark = index.sparkSession
    index = _ensure_entry(index)
    assigned_plan = _with_cell(new_emb, centroids, id_col, vec_col, n_hint)
    del_ids, del_list = _delete_ids(deletes, id_col)
    # ONE delta-side job: a bounded take of the FULL assigned delta
    # (cell, id, embedding, shard-hash). Small deltas (the per-commit
    # norm) then derive everything driver-side — per-cell add
    # counts/mins, the distinct upsert id set, the target sub-shards,
    # AND the delta rows themselves re-materialize as a local frame, so
    # neither the assignment checkpoint job nor the three collect jobs
    # of the old plan run. n_hint (when the caller knows the delta
    # size) skips the take entirely on batches known to exceed the
    # bound; those keep the checkpoint + lazy agg form, whose job
    # overhead amortizes over real work.
    head = None
    if n_hint is None or n_hint <= DRIVER_DELTA_IDS_MAX:
        head = assigned_plan.select(
            "cell", "vec_id", "embedding", F.hash("vec_id").alias("_h")
        ).take(DRIVER_DELTA_IDS_MAX + 1)
        if len(head) > DRIVER_DELTA_IDS_MAX:
            head = None
    if head is not None:
        add_cnt: dict[int, int] = {}
        add_min: dict[int, int] = {}
        add_hash: dict[int, list[int]] = {}
        id_set: set[int] = set()
        for r in head:
            c, v = int(r["cell"]), int(r["vec_id"])
            add_cnt[c] = add_cnt.get(c, 0) + 1
            if c not in add_min or v < add_min[c]:
                add_min[c] = v
            add_hash.setdefault(c, []).append(int(r["_h"]))
            id_set.add(v)
        # float64 embeddings round-trip exactly (collected doubles ARE
        # python floats)
        new_assigned = local_frame(
            spark,
            [
                (int(r["cell"]), int(r["vec_id"]), list(r["embedding"]))
                for r in head
            ],
            "cell int, vec_id bigint, embedding array<double>",
        ).coalesce(1)
        new_ids = local_frame(
            spark, [(v,) for v in sorted(id_set)], "vec_id bigint"
        ).coalesce(1)
        if del_list is not None:
            # both sides driver-resident: the distinct union is driver
            # set algebra, not a 2-job AQE aggregate over local rows
            gone_ids = local_frame(
                spark,
                [(v,) for v in sorted(id_set | set(del_list))],
                "vec_id bigint",
            ).coalesce(1)
        elif del_ids is not None:
            gone_ids = new_ids.unionByName(del_ids).distinct()
        else:
            gone_ids = new_ids  # distinct by construction
    else:
        add_hash = None
        # checkpoint: the assignment matmul feeds touched-cell
        # discovery, the upsert anti-join AND the rebuild source —
        # don't run it thrice
        new_assigned = assigned_plan.localCheckpoint()
        adds = new_assigned.groupBy("cell").agg(
            F.count("*").alias("c"), F.min("vec_id").alias("mn")
        ).collect()
        add_cnt = {int(r["cell"]): int(r["c"]) for r in adds}
        add_min = {int(r["cell"]): int(r["mn"]) for r in adds}
        new_ids = new_assigned.select("vec_id").distinct()
        gone_ids = (
            new_ids if del_ids is None else new_ids.unionByName(del_ids)
        ).distinct()
    # ONE corpus scan: per-cell (row count, gone-id count, max id,
    # observed shard set, gone-id shard set). Cells with g > 0 hold a
    # re-inserted (possibly moved) or deleted id; cells receiving delta
    # rows come from the delta take above. The shard sets are bounded
    # by each cell's sub-shard count (map-side combined), so the
    # driver receives the same volume as the (cell, shard) directory
    # nsw_knn_join already broadcasts — KB per thousand cells.
    both = (
        index.join(
            F.broadcast(gone_ids.withColumn("_g", F.lit(1))),
            "vec_id",
            "left",
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.coalesce(F.col("_g"), F.lit(0))).alias("g"),
            F.max("vec_id").alias("mx"),
            F.collect_set("shard").alias("sh"),
            F.collect_set(
                F.when(F.col("_g") == 1, F.col("shard"))
            ).alias("gsh"),
        )
        .collect()
    )
    old_cnt = {int(r["cell"]): int(r["c"]) for r in both}
    rem_cnt = {int(r["cell"]): int(r["g"]) for r in both if int(r["g"])}
    old_max = {int(r["cell"]): int(r["mx"]) for r in both}
    shard_sets = {int(r["cell"]): {int(s) for s in r["sh"]} for r in both}
    gone_shards = {
        int(r["cell"]): {int(s) for s in r["gsh"]} for r in both if r["gsh"]
    }
    touched = sorted(set(add_cnt) | set(rem_cnt))
    if not touched:
        return index, local_frame(spark, [], CELL_GRAPH_SCHEMA), [], []
    touched_df = local_frame(
        spark, [(c,) for c in touched], "cell int"
    ).coalesce(1)
    keep = index.join(F.broadcast(touched_df), "cell", "left_anti")
    # pin the touched cells' rows ONCE (delta-locality-bounded — the
    # same volume the rebuild shuffles anyway); every consumer below
    # reads the pinned copy instead of rescanning the corpus index.
    # Driver-literal isin: static partition pruning against a
    # cell-partitioned parquet index, no runtime DPP needed. Above the
    # literal bound (a wide tombstone sweep touching 10^5+ cells) the
    # broadcast-join form avoids the In-expression blowup and relies
    # on runtime DPP instead.
    if len(touched) <= DRIVER_DELTA_CELLS_MAX:
        touched_rows = index.filter(
            F.col("cell").isin(touched)
        ).localCheckpoint()
    else:
        touched_rows = index.join(
            F.broadcast(touched_df), "cell", "left_semi"
        ).localCheckpoint()
    msr = max(1, max_shard_rows)
    elig: dict[int, int] = {}
    for c in touched:
        old = old_cnt.get(c, 0)
        new = old - rem_cnt.get(c, 0) + add_cnt.get(c, 0)
        if old > 0 and new > 0 and math.ceil(old / msr) == math.ceil(new / msr):
            elig[c] = math.ceil(old / msr)
    # regime guard: sub-granular pass-through assumes the caller's
    # (max_shard_rows, stride) match the build's — otherwise kept
    # sub-shards retain the OLD sharding while rebuilt ones use the
    # caller's, mixing regimes in one cell and silently breaking
    # delta ≡ rebuild (search stays correct; the equality contract
    # doesn't). The corpus agg's observed shard SET gives the driver a
    # free range check: every stored shard of an eligible cell must
    # lie in [cell·stride, cell·stride + nsubs). A cell failing it
    # demotes to the whole-cell rebuild, which reshards consistently.
    # At nsubs == 1 the range check IS per-row-exact (the only legal
    # sub is 0), so the common facade-scale delta verifies with NO
    # extra job; only multi-sub cells that PASSED the range check
    # still need the per-row membership probe (pmod(hash, nsubs) can
    # differ between two regimes whose shard ranges overlap).
    need_probe: dict[int, int] = {}
    for c in list(elig):
        nsubs = elig[c]
        base = c * stride
        if any(
            s - base < 0 or s - base >= nsubs for s in shard_sets.get(c, ())
        ):
            del elig[c]
        elif nsubs >= 2:
            need_probe[c] = nsubs
    if need_probe:
        # delta-local scan of the pinned touched rows, restricted to
        # the multi-sub eligible cells; literal forms below the cell
        # bound, broadcast-join above it (ADVICE r10: no 10^5-literal
        # CreateMap/In in the plan)
        if len(need_probe) <= DRIVER_DELTA_CELLS_MAX:
            cand_rows = touched_rows.filter(
                F.col("cell").isin(sorted(need_probe))
            )
            nsubs_col = F.create_map(
                *[F.lit(x) for cn in sorted(need_probe.items()) for x in cn]
            )[F.col("cell")]
        else:
            np_df = local_frame(
                spark, sorted(need_probe.items()), "cell int, nsubs int"
            ).coalesce(1)
            cand_rows = touched_rows.join(F.broadcast(np_df), "cell")
            nsubs_col = F.col("nsubs")
        mm_col = F.col("shard") != (
            F.col("cell").cast("long") * F.lit(stride)
            + F.pmod(F.hash(F.col("vec_id")), nsubs_col)
        ).cast("int")
        mismatched = {
            int(r["cell"])
            for r in cand_rows.filter(mm_col)
            .select("cell")
            .distinct()
            .collect()
        }
        for c in mismatched:
            del elig[c]
    gone_subs: set[tuple[int, int]] = {
        (c, s)
        for c in elig
        for s in gone_shards.get(c, ())
    }
    # APPEND fast path (driver-verified, kernel-executed): an eligible
    # cell where nothing was removed or replaced (no gone id hit it)
    # and every delta id EXCEEDS the cell's max stored id. The stored
    # sub-graph is then bit-identical to the construction PREFIX a full
    # rebuild would pass through (same id-sorted rows, same
    # deterministic insert loop), so the kernel CONTINUES the insert
    # loop from the stored adjacency instead of rebuilding the
    # sub-shard — O(delta · beam) work per append instead of
    # O(sub_shard · beam). Monotone ids with no deletes is the
    # append-heavy stream norm (commit sequences, event time). Like
    # delta ≡ rebuild itself, the equality is stated at the caller's
    # (m, ef_construction): the stored graph must have been built with
    # the same knobs, which every other pass-through sub assumes too.
    append_cells = {
        c
        for c in elig
        if c not in rem_cnt
        and c in add_min
        and add_min[c] > old_max[c]
    }
    # rebuild-source row counts per touched cell are pure driver
    # arithmetic (old − gone + added) — _build_cells never has to
    # count, single-consumer rebuild sources stay lazy plans over the
    # two pinned frames instead of buying checkpoint jobs, and the
    # non-drained (built) set is known without probing the rebuilt rows
    new_sizes = {
        c: old_cnt.get(c, 0) - rem_cnt.get(c, 0) + add_cnt.get(c, 0)
        for c in touched
    }
    built = [c for c in touched if new_sizes[c] > 0]
    inelig_src = (
        touched_rows.join(new_ids, "vec_id", "left_anti")
        .select("cell", "vec_id", "embedding")
    )
    if del_ids is not None:
        inelig_src = inelig_src.join(del_ids, "vec_id", "left_anti")
    if not elig:
        rebuilt = _build_cells(
            inelig_src.unionByName(new_assigned),
            m, ef_construction, max_shard_rows, stride,
            cell_counts=new_sizes,
        )
        return keep, rebuilt, touched, built
    elig_df = local_frame(
        spark, sorted(elig.items()), "cell int, nsubs int"
    ).coalesce(1)
    # ---- ineligible touched cells: whole-cell rebuild --------------
    inelig_cells = [c for c in touched if c not in elig]
    if inelig_cells:
        inelig_src = inelig_src.join(
            F.broadcast(elig_df), "cell", "left_anti"
        )
        inelig_new = new_assigned.join(
            F.broadcast(elig_df), "cell", "left_anti"
        )
        rebuilt_inelig = _build_cells(
            inelig_src.unionByName(inelig_new),
            m, ef_construction, max_shard_rows, stride,
            cell_counts={c: new_sizes[c] for c in inelig_cells},
        )
    else:
        # every touched cell is sub-granular eligible — don't spend a
        # plan (and _build_cells' planning) on a provably empty branch
        rebuilt_inelig = local_frame(spark, [], CELL_GRAPH_SCHEMA)
    # ---- eligible cells: rebuild only the changed sub-shards -------
    delta_e = (
        new_assigned.join(F.broadcast(elig_df), "cell")
        .withColumn(
            "shard",
            (
                F.col("cell").cast("long") * F.lit(stride)
                + F.pmod(F.hash(F.col("vec_id")), F.col("nsubs"))
            ).cast("int"),
        )
        .drop("nsubs")
    )
    old_e = touched_rows.join(
        F.broadcast(elig_df.select("cell")), "cell", "left_semi"
    )
    # bounded by the changed-id count — a LOCAL relation (broadcasts
    # of a local relation cost no AQE stage job): gone-id sub-shards
    # came out of the ONE corpus agg; the delta's own target sub-shards
    # are driver arithmetic over the planning take's (cell, hash) pairs
    # (Python % equals pmod for positive nsubs), so the small-delta
    # path pays NO distinct-collect job here. A take-exceeding batch
    # recomputes them with the one distinct the old plan paid.
    if add_hash is not None:
        delta_subs = {
            (c, c * stride + (h % elig[c]))
            for c, hs in add_hash.items()
            if c in elig
            for h in hs
        }
    else:
        delta_subs = {
            (int(r["cell"]), int(r["shard"]))
            for r in delta_e.select("cell", "shard").distinct().collect()
        }
    _ts = sorted(gone_subs | delta_subs)
    touched_subs = local_frame(
        spark, _ts, "cell int, shard int"
    ).coalesce(1)
    sub_keep = old_e.join(
        F.broadcast(touched_subs), ["cell", "shard"], "left_anti"
    )
    # append cells keep their stored adjacency (the kernel resumes the
    # insert loop on it); everything else nulls it and rebuilds. The
    # literal isin is bounded like every other cell-literal expression
    # (DRIVER_DELTA_CELLS_MAX); a wider append set rides a broadcast
    # join flag instead.
    old_e_kept = old_e.join(
        F.broadcast(touched_subs), ["cell", "shard"], "left_semi"
    ).join(new_ids, "vec_id", "left_anti")
    if append_cells and len(append_cells) > DRIVER_DELTA_CELLS_MAX:
        app_df = local_frame(
            spark,
            [(c, True) for c in sorted(append_cells)],
            "cell int, _app boolean",
        ).coalesce(1)
        old_e_kept = old_e_kept.join(F.broadcast(app_df), "cell", "left")
        keep_nbrs = F.coalesce(F.col("_app"), F.lit(False))
    else:
        keep_nbrs = (
            F.col("cell").isin(sorted(append_cells))
            if append_cells
            else F.lit(False)
        )
    old_e_src = old_e_kept.select(
        "cell", "shard", "vec_id", "embedding",
        F.when(keep_nbrs, F.col("neighbors")).alias("neighbors"),
    )
    if del_ids is not None:
        old_e_src = old_e_src.join(del_ids, "vec_id", "left_anti")
    # single consumer (the kernel) over two pinned frames — lazy
    src_e = old_e_src.unionByName(
        delta_e.select(
            "cell", "shard", "vec_id", "embedding",
            F.lit(None).cast("array<bigint>").alias("neighbors"),
        )
    )
    # size the kernel's shuffle from the driver-known changed-sub count
    # instead of spark.sql.shuffle.partitions: groupBy().applyInPandas
    # only requires CLUSTERING by the keys, which an explicit
    # repartition(k, keys) satisfies with no extra exchange — a 10-row
    # delta otherwise schedules 32-partition reduce stages whose empty
    # tasks are pure per-job floor (the delta is per-commit overhead)
    n_sub_parts = max(1, min(1024, len(gone_subs | delta_subs)))
    src_e = src_e.repartition(n_sub_parts, "cell", "shard")
    rebuilt_e = src_e.groupBy("cell", "shard").applyInPandas(
        _cell_shard_delta_builder(m, ef_construction), CELL_GRAPH_SCHEMA
    )
    rebuilt = rebuilt_inelig.unionByName(rebuilt_e).unionByName(
        sub_keep.select(
            "cell", "shard", "vec_id", "neighbors", "embedding", "entry"
        )
    )
    return keep, rebuilt, touched, built


def ivf_cell_stats(index: DataFrame) -> DataFrame:
    """Per-cell occupancy of an IVF index: (cell, n_rows, n_shards) —
    the cheap skew statistic the retrain policy reads (n_cells rows,
    one map-side-combined agg over the index)."""
    return index.groupBy("cell").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("shard").alias("n_shards"),
    )


def ivf_needs_retrain(
    index: DataFrame,
    engage_rows: int = 1000,
    max_skew: float = 4.0,
    trained_cells: int | None = None,
    target_cell_rows: int | None = None,
    growth_factor: float = 2.0,
) -> tuple[bool, dict]:
    """Centroid-drift retrain policy: after enough deltas the trained
    cells can stop matching the data (inserts piling into one region
    bloat its cell; deletes hollow others out), and the symptom is
    OCCUPANCY SKEW — max cell size versus the mean. Returns
    (needs_retrain, stats). ``engage_rows`` mirrors the reference's
    1000-vector HNSW engage threshold (src/vec.rs:22-23) as a policy
    knob: below it brute force is the right plan and retraining is
    noise. ``max_skew`` is the bound: max/mean occupancy above it (or
    more than half the trained cells drained empty) triggers
    ``train_cell_centroids`` + full rebuild; pass ``trained_cells`` (the
    centroid count) to also trigger when over half the trained cells
    have drained empty.

    ``target_cell_rows`` adds the RESIZE trigger: when mean occupancy
    exceeds ``growth_factor × target_cell_rows`` the corpus has
    outgrown its cell count (per-query probed CPU and per-delta rebuild
    work both scale with cell size) and the retrain must also re-size
    n_cells via ``auto_n_cells`` — the moment mirrors how
    max_shard_rows bounds sub-shards, but cell count can only change
    at a retrain (cell membership is centroid-determined). The factor
    gives hysteresis: a fresh auto-sized build sits at ~target rows
    per cell, so triggering strictly above target would retrain on
    every delta. The stat is one n_cells-row aggregate — cheap enough
    to evaluate at every save/seal."""
    rows = ivf_cell_stats(index).collect()  # n_cells rows
    n = int(sum(r["n_rows"] for r in rows))
    occupied = len(rows)
    stats = {"n_rows": n, "n_cells": occupied}
    if n < engage_rows or occupied == 0:
        stats["skew"] = 0.0
        return False, stats
    mean = n / occupied
    skew = max(r["n_rows"] for r in rows) / mean
    stats["skew"] = round(float(skew), 3)
    stats["mean_cell_rows"] = round(float(mean), 1)
    drained = (
        trained_cells is not None and occupied < 0.5 * trained_cells
    )
    overgrown = (
        target_cell_rows is not None
        and mean > growth_factor * max(1, target_cell_rows)
    )
    if overgrown:
        stats["overgrown"] = True
    return skew > max_skew or drained or overgrown, stats


class CellIndexHandle:
    """Lazy handle on a ``partitionBy("cell")`` parquet index that reads
    ONLY the probed cells' directories per request.

    Why (round 11, guide §6 file listing): a directory-per-cell layout
    pays O(n_cells) driver-side file listing the first time ANY plan
    touches the root path — measured ~16 s at just 8192 one-file cells,
    and the listing is driver-memory-resident. A serving tier that
    reads the root (``spark.read.parquet(root)``) pays that at open();
    at the 10^5-10^6 cells a 100 TB tier wants, it becomes a
    multi-minute open and a GB-scale driver metadata block. A
    cell-pruned REQUEST, though, only ever needs ``probes`` cells — so
    this handle anchors the read at the probed ``cell=N`` directories
    with ``basePath`` (partition column still materializes from the
    directory name) and the per-request listing cost drops to
    O(probes) directories, independent of n_cells. Maintenance paths
    (delta/retrain/doctor/stats) still read the full index via
    :meth:`full` — they touch every row anyway.

    The handle must only be used while the on-disk index is the
    serving truth: any in-session mutation that swaps the index
    DataFrame (delta apply, retrain, rebuild) invalidates it — callers
    (the facade) drop the handle on those events and fall back to
    DataFrame filtering.
    """

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self._schema = None  # inferred once, reused per request

    def full(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def for_cells(self, cells: Sequence[int]) -> DataFrame:
        import os

        dirs = [
            d
            for d in (f"{self.path}/cell={int(c)}" for c in cells)
            if os.path.exists(d)
        ]
        if not dirs:
            # every probed cell is empty/tombstoned-away (or a non-local
            # filesystem where the existence probe is wrong): correct
            # fallback through the full listing
            return self.full().filter(
                F.col("cell").isin([int(c) for c in cells])
            )
        reader = self.spark.read.option("basePath", self.path)
        if self._schema is not None:
            # skip per-request footer reads: the layout's schema is
            # fixed between handle (in)validations
            reader = reader.schema(self._schema)
        df = reader.parquet(*dirs)
        if self._schema is None:
            self._schema = df.schema
        return df


def _index_cells(index, cells: Sequence[int]) -> DataFrame:
    """The probed-cell slice of an index: directory-pruned when the
    caller holds a :class:`CellIndexHandle`, planning-time partition
    pruning (isin over the hive layout) when it holds a DataFrame."""
    cells = [int(c) for c in cells]
    if isinstance(index, CellIndexHandle):
        return index.for_cells(cells)
    return index.filter(F.col("cell").isin(cells))


def probe_cells_for(
    centroids, query_vec: Sequence[float], probes: int
) -> list[int]:
    """The single-query probed-cell set — shared by every cell-pruned
    consumer (``nsw_knn_pruned``, the cross-modal route) so they all
    probe the SAME cells on tie-adjacent data."""
    import numpy as np

    if isinstance(centroids, CentroidFrame):
        return centroids.probe_cells(query_vec, probes)
    C = np.asarray(centroids, dtype="float64")
    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    # SAME expanded form as _with_cell / nsw_knn_join's probe_cells —
    # the two FP formulas can rank near-equal centroid distances
    # differently, and the single-query path must probe the same cell
    # set as the batch path on tie-adjacent data
    d = (C * C).sum(axis=1) - 2.0 * (C @ q) + float(q @ q)
    order = np.lexsort((np.arange(len(C)), d))
    return [int(c) for c in order[: max(1, probes)]]


def nsw_knn_pruned(
    index: DataFrame,
    centroids,
    query_vec: Sequence[float],
    k: int = 10,
    ef_search: int = 50,
    probes: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """Cell-pruned ANN top-k over a ``build_nsw_index_ivf`` graph: rank
    cells by centroid distance to the query (driver-side — the centroid
    table is the KB-scale model), beam-search only the top ``probes``
    cells, exact top-k over their candidates. Against a
    ``partitionBy("cell")`` parquet index the ``isin`` filter prunes at
    planning time, so a request reads O(probes/n_cells) of the corpus —
    the IVF trade: a true neighbor living in an unprobed cell is missed
    (raise ``probes`` for recall; probes >= n_cells degenerates to the
    exact full-shard search). Cell ties break to the lowest cell id.
    With a :class:`CentroidFrame` model the probe collects only the
    nearest supers' centroid blocks (O(probes·√k·d)) — the table
    itself never visits the driver. ``index`` may be a DataFrame or a
    :class:`CellIndexHandle`; with the handle the request lists only
    the probed cells' directories (O(probes) driver metadata instead
    of O(n_cells) — the round-11 serving-open fix)."""
    cells = probe_cells_for(centroids, query_vec, probes)
    return nsw_knn(
        _index_cells(index, cells), query_vec, k, ef_search,
        exclude_id,
    )


def nsw_knn_join(
    index: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 10,
    ef_search: int = 50,
    probes: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_same_id: bool = False,
) -> DataFrame:
    """Batch ANN retrieval: top-k neighbors for EVERY row of ``queries``
    against a ``build_nsw_index_ivf`` graph — the retrieval JOIN a
    training-data pipeline runs (dedup against an index, hard-negative
    mining, recommendation candidates), where per-query driver calls
    (``nsw_knn_pruned`` is one Spark job per query) would be O(queries)
    jobs.

    Plan: (1) every query maps to its ``probes`` nearest cells in one
    Arrow-batched matmul against the broadcast centroid table;
    (2) probed queries replicate to the sub-shards of their cells (the
    (cell, shard) directory is distinct-collected from the index — KB
    per thousand cells — and broadcast-joined); (3) a COGROUP on shard
    pairs each sub-shard's graph with exactly the queries probing it —
    per-task memory is one sub-shard (bounded by the build's
    ``max_shard_rows``) plus its query slice; (4) per-query exact top-k
    over the union of per-shard candidates (window, score-then-id total
    order, the same contract as ``nsw_knn``).

    Both sides of the cogroup shuffle once on shard — at warehouse
    scale the index side is already laid out by cell, so AQE sees a
    near-local join; query-side replication is probes × sub-shards per
    cell, the standard IVF fan-out. Returns (query_id, vec_id, score
    round6, rank 1..k). ``exclude_same_id=True`` drops hits whose
    vec_id equals the query id (self-match, for corpus-vs-self joins).
    Determinism: cell ties break to the lowest cell id, candidate ties
    to the lowest vec_id — reproducible across partitionings.

    With a :class:`CentroidFrame` model, step (1) goes through
    ``_probe_cells_frame``'s cogroup — and with group radii in the
    frame (every trained/loaded frame) the probed-cell set is EXACT:
    the radius branch-and-bound emits every group that could hold a
    top-``probes`` cell, so the batch join probes the same cells this
    ndarray path would, ties included, while the centroid table never
    broadcasts. Only a radius-less legacy frame degrades to the
    two-level heuristic (cells inside unprobed supers invisible)."""
    import numpy as np

    spark = queries.sparkSession
    if isinstance(centroids, CentroidFrame):
        probed = _probe_cells_frame(
            queries, centroids, probes, query_id_col, query_vec_col
        )
    else:
        C = np.asarray(centroids, dtype="float64")
        n_cells = len(C)
        p = max(1, min(probes, n_cells))
        bc = spark.sparkContext.broadcast(C)

        def probe_cells(batches):
            import pandas as pd

            CC = bc.value
            cc = (CC * CC).sum(axis=1)[None, :]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[query_vec_col].to_numpy()).astype(
                    "float64", copy=False
                )
                d2 = (X * X).sum(axis=1)[:, None] - 2.0 * X @ CC.T + cc
                # stable argsort: equal distances rank by cell id asc
                order = np.argsort(d2, axis=1, kind="stable")[:, :p]
                yield pd.DataFrame(
                    {
                        query_id_col: np.repeat(
                            pdf[query_id_col].to_numpy(), p
                        ),
                        "cell": order.reshape(-1).astype("int32"),
                        "q": [
                            v
                            for v in pdf[query_vec_col]
                            for _ in range(p)
                        ],
                    }
                )

        probed = queries.select(query_id_col, query_vec_col).mapInPandas(
            probe_cells, f"{query_id_col} long, cell int, q array<double>"
        )
    # (cell, shard) directory: one row per sub-shard — KB-scale next to
    # the index itself, safe to broadcast. localCheckpoint breaks the
    # lineage back to `index`, which the cogroup below also reads (the
    # analyzer rejects the shared-lineage self-join as ambiguous), and
    # keeps the directory from being recomputed per downstream use.
    # the aliases mint FRESH attribute ids: localCheckpoint preserves
    # exprIds, so a bare select from an already-checkpointed index
    # (the facade's serving tier) would carry the index's own shard
    # attribute into the query side of the cogroup and the analyzer
    # would reject index-vs-probed_shards as an ambiguous self-join
    shards = (
        index.select(
            F.col("cell").alias("cell"), F.col("shard").alias("shard")
        )
        .distinct()
        .localCheckpoint()
    )
    # lazily pinned: the probe matmul runs once, then feeds BOTH the
    # active-shard semi-join below and the cogroup's query side
    probed_shards = probed.join(F.broadcast(shards), "cell").localCheckpoint(
        eager=False
    )
    # prune the index to PROBED sub-shards before the cogroup: cogroup
    # is a full outer over group keys, so without this every unprobed
    # sub-shard's graph (embeddings + neighbors) would still shuffle
    # and deserialize into pandas only for search_batch to return
    # empty — a small query batch would pay O(corpus) work instead of
    # the O(probes) the IVF pruning promises
    # the alias mints a fresh attribute and the EAGER checkpoint cuts
    # active's lineage entirely: without both, the semi-join below
    # embeds probed_shards' plan inside the cogroup's LEFT side while
    # the RIGHT side is probed_shards itself, and the analyzer rejects
    # the shared subtree as an ambiguous self-join (the probed-shard
    # set is one row per probed sub-shard — KB-scale, a cheap pin that
    # also materializes probed_shards' lazy checkpoint exactly once)
    active = (
        probed_shards.select(F.col("shard").alias("probed_shard"))
        .distinct()
        .localCheckpoint()
    )
    index = index.join(
        F.broadcast(active),
        F.col("shard") == F.col("probed_shard"),
        "left_semi",
    )

    def search_batch(idx_pdf, q_pdf):
        import pandas as pd

        if len(idx_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {query_id_col: [], "vec_id": [], "score": []}
            )
        idx_pdf = idx_pdf.sort_values("vec_id").reset_index(drop=True)
        vecs = np.stack(idx_pdf["embedding"].to_numpy()).astype(np.float64)
        ids = idx_pdf["vec_id"].to_numpy()
        pos = {int(v): i for i, v in enumerate(ids)}
        adj = [[pos[w] for w in row] for row in idx_pdf["neighbors"]]
        ef = max(ef_search, k)
        seeds = _batch_seeds(idx_pdf, len(vecs))
        out_q, out_v, out_s = [], [], []
        for qid, qv in zip(q_pdf[query_id_col], q_pdf["q"]):
            found = _beam_search(vecs, adj, seeds, np.asarray(qv), ef)
            for d, v in found[:ef]:
                out_q.append(int(qid))
                out_v.append(int(ids[v]))
                out_s.append(float(np.sqrt(d)))
        return pd.DataFrame(
            {query_id_col: out_q, "vec_id": out_v, "score": out_s}
        )

    hits = (
        index.groupby("shard")
        .cogroup(probed_shards.groupby("shard"))
        .applyInPandas(
            search_batch, f"{query_id_col} long, vec_id bigint, score double"
        )
    )
    if exclude_same_id:
        hits = hits.filter(F.col(query_id_col) != F.col("vec_id"))
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").asc(), F.col("vec_id").asc()
    )
    return (
        hits.select(
            query_id_col, "vec_id", F.round("score", 6).alias("score")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
