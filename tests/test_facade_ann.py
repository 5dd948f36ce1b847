"""Facade ANN serving tiers: build_ann_serving / search_embeddings(ann=)
/ incremental save-time deltas / vacuum-routed maintenance / doctor
audit + heal. The text and image tiers share one lifecycle; tests of
that lifecycle run over both.

Reference seams: HNSW engaged at >= 1000 vectors (src/vec.rs:22-23) as
the brute-vs-ANN routing policy; recall >= 0.8 @ k=10 vs brute force
(src/vec.rs:645-650); indexes finalize incrementally at the save moment
(finalize_indexes, mutation.rs:913-918) and rebuild after vacuum
(mutation.rs:2999-3084); doctor drops/heals each index kind
(tests/doctor_recovery.rs:194-717).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from memvid_spark.api import MemvidSpark
from memvid_spark.operators import crossmodal as xm
from memvid_spark.operators import hnsw
from memvid_spark.operators.hnsw import CentroidFrame, build_nsw_index_ivf
from memvid_spark.sources.image import png_encode


def _unit_blob_pairs(n_blobs=4, per_blob=300, dim=6, start_id=0):
    """Unit-normalized well-separated blobs (cosine and L2 rankings
    agree on the unit sphere, so the ann=True L2 path is comparable to
    the exact cosine path)."""
    pairs = []
    for b in range(n_blobs):
        for i in range(per_blob):
            v = [0.0] * dim
            v[b % dim] = 10.0
            for d in range(dim):
                v[d] += ((i * (d + 3) + b) % 23) * 0.03
            # unique per id: coincident points would make the NSW graph
            # a duplicate cloud (beam gets stuck on zero-distance nodes)
            v[(b + 1) % dim] += i * 0.003
            nrm = math.sqrt(sum(x * x for x in v))
            pairs.append(
                (start_id + b * per_blob + i, [x / nrm for x in v])
            )
    return pairs


def _store_with_vectors(spark, n_blobs=4, per_blob=300):
    mv = MemvidSpark(spark)
    mv.add_embeddings(_unit_blob_pairs(n_blobs, per_blob))
    return mv


def _qvec(pairs, fid):
    return next(v for f, v in pairs if f == fid)


def _report(mv, heal=False):
    return {
        (r.check, r.table_name): r.n_affected
        for r in mv.doctor(heal=heal).collect()
    }


def _graph_key(df):
    return sorted(
        (r.cell, r.shard, r.vec_id, tuple(r.neighbors), bool(r.entry))
        for r in df.collect()
    )


TIERS = ("text", "image")


class _Tier:
    """Drives one serving tier of a store through the facade: the text
    tier over stored vectors, the image tier over PNG puts. The two
    differ only in how items enter the store and in the names of the
    entry points, files and doctor tables."""

    def __init__(self, spark, kind, mv=None, pool=None, rng=None):
        self.spark, self.kind = spark, kind
        self.mv = mv if mv is not None else MemvidSpark(spark)
        self.key = "ann" if kind == "text" else "img_ann"
        # well-separated unique vectors, handed out in order
        self.pool = pool if pool is not None else iter(
            _unit_blob_pairs(n_blobs=6, per_blob=260)
        )
        self.rng = rng if rng is not None else np.random.default_rng(31)

    def add(self, n=1):
        if self.kind == "text":
            pairs = [next(self.pool) for _ in range(n)]
            self.mv.add_embeddings(pairs)
            return [f for f, _ in pairs]
        ids = []
        for _ in range(n):
            shape = (4 + int(self.rng.integers(0, 3)), 5, 3)
            px = self.rng.integers(0, 256, shape, dtype=np.uint8)
            ids.append(
                self.mv.put_bytes(bytes(png_encode(px)), dedup=False)
            )
        return ids

    def build(self, **kw):
        build = (
            self.mv.build_ann_serving
            if self.kind == "text"
            else self.mv.build_image_ann_serving
        )
        build(m=8, ef_construction=60, **kw)

    def refresh(self):
        if self.kind == "text":
            return self.mv.refresh_ann_index()
        return self.mv.refresh_image_ann_index()

    def reopen(self, path):
        mv = MemvidSpark.open(self.spark, path)
        return _Tier(self.spark, self.kind, mv, self.pool, self.rng)

    @property
    def index(self):
        return getattr(self.mv, f"_{self.key}_index")

    @index.setter
    def index(self, df):
        setattr(self.mv, f"_{self.key}_index", df)

    @property
    def model(self):
        return getattr(self.mv, f"_{self.key}_cents")

    @property
    def meta(self):
        return getattr(self.mv, f"_{self.key}_meta")

    def truth(self):
        """(vec_id, embedding) the tier must index right now."""
        if self.kind == "text":
            return self.mv._ann_active_track()
        return xm.embed_images(self.mv.media("image")).select(
            F.col("media_id").alias("vec_id"),
            F.col("emb").cast("array<double>").alias("embedding"),
        )

    def served(self):
        return {int(r.vec_id) for r in self.index.select("vec_id").collect()}


def test_ann_search_recall_vs_exact(spark):
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)  # 1200 rows >= engage threshold
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    approx = {r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8  # vec.rs:645-650 bound


def test_ann_engage_threshold_falls_through_to_exact(spark):
    """Below 1000 vectors ann=True IS the exact scan (vec.rs:22-23:
    brute force under the engage threshold) — identical rows."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < 1000
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    q = _qvec(pairs, 5)
    a = [(r.vec_id, r.score, r.rank)
         for r in mv.search_embeddings(q, k=5, ann=True).collect()]
    b = [(r.vec_id, r.score, r.rank)
         for r in mv.search_embeddings(q, k=5).collect()]
    assert a == b


def test_ann_persists_partitioned_and_prunes(spark, tmp_path):
    """save() write-swaps the index partitionBy(cell); a reopened store
    serves the pruned search with a planning-time PartitionFilter."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    path = str(tmp_path / "store")
    mv.save(path)
    re = MemvidSpark.open(spark, path)
    assert re.ann_enabled()
    q = _qvec(pairs, 3)
    res = re.search_embeddings(q, k=10, ann=True)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    approx = {r.vec_id for r in res.collect()}
    exact = {r.vec_id for r in re.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


def test_put_then_save_applies_delta_not_rebuild(spark, tmp_path):
    """Vectors added after the tier is built reach the served index at
    save() through apply_delta_ivf (same centroids — only touched cells
    rebuild), and delta == rebuild-with-same-centroids row-for-row."""
    from memvid_spark.operators.hnsw import build_nsw_index_ivf

    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    cents_before = [list(c) for c in mv._ann_cents]
    new = _unit_blob_pairs(n_blobs=1, per_blob=5, start_id=9000)
    mv.add_embeddings(new)
    path = str(tmp_path / "store")
    mv.save(path)
    # centroids unchanged: the delta path, not a retrain
    assert mv._ann_cents == cents_before
    re = MemvidSpark.open(spark, path)
    q = _qvec(new, 9000)
    got = {r.vec_id for r in re.search_embeddings(q, k=5, ann=True).collect()}
    assert 9000 in got
    full = build_nsw_index_ivf(
        re._ann_active_track(), cents_before, m=8, ef_construction=60
    )
    ra = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in re._ann_index.collect())
    rb = sorted((r.cell, r.shard, r.vec_id, tuple(r.neighbors))
                for r in full.collect())
    assert ra == rb


def test_delete_vacuum_routes_index_maintenance(spark):
    """Tombstoned frames leave the served index at vacuum() via the
    incremental delta (rebuild-after-vacuum, mutation.rs:2999-3084)."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    assert 3 in {
        r.vec_id for r in mv.search_embeddings(q, k=3, ann=True).collect()
    }
    mv.delete(3)
    mv.vacuum()
    assert mv._ann_index.filter(F.col("vec_id") == 3).count() == 0
    assert 3 not in {
        r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()
    }


@pytest.mark.parametrize("kind", TIERS)
def test_doctor_audits_and_heals_ann_tier(spark, kind):
    """doctor() flags a hole in the served index and an item put since
    the last refresh as missing rows; heal=True routes through the
    registered rebuilder and the re-audit comes back clean
    (doctor_recovery.rs:194-717 drop-then-heal). One audit for both
    tiers; the image audit checks ids only, never decoding payloads."""
    t = _Tier(spark, kind)
    t.mv.put("doc zero")  # a frame so the frame-log checks have rows
    ids = t.add(12)
    t.build(n_cells=3)
    table = f"{t.key}_index"
    clean = _report(t.mv)
    assert clean[("missing", table)] == 0
    assert clean[("orphaned", table)] == 0
    # corrupt: drop one indexed row
    victim = ids[1]
    t.index = t.index.filter(F.col("vec_id") != victim)
    assert _report(t.mv)[("missing", table)] == 1
    # an item put after the build, not yet refreshed, is missing too
    (extra,) = t.add(1)
    assert _report(t.mv)[("missing", table)] == 2
    healed = _report(t.mv, heal=True)
    assert healed[("missing", table)] == 0
    assert healed[("orphaned", table)] == 0
    assert {victim, extra} <= t.served()


def test_doctor_heal_keeps_persisted_cell_clamp(spark):
    """The heal rebuild re-sizes an auto-sized tier within the clamp it
    was built with, like the drift retrain does — not the default
    clamp."""
    t = _Tier(spark, "text")
    t.add(120)
    t.build(min_cells=2, max_cells=2)
    assert t.meta["n_cells"] == 2 and t.meta["auto_cells"] is True
    t.add(10)  # no refresh: the index is flagged missing
    assert _report(t.mv)[("missing", "ann_index")] == 10
    healed = _report(t.mv, heal=True)
    assert healed[("missing", "ann_index")] == 0
    assert t.meta["n_cells"] == 2


def test_refresh_drift_policy_retrains_on_skew(spark):
    """A delta piling mass into one region trips the occupancy-skew
    bound and refresh retrains the coarse model (vec.rs's 1000-vector
    engage threshold as the policy knob)."""
    pairs = _unit_blob_pairs(n_blobs=8, per_blob=50, dim=8)  # 400 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=8, m=8, ef_construction=60)
    # 900 near-identical vectors into blob 0's region: n=1300 (engaged),
    # hot cell ~950 vs mean ~162 -> skew ~5.8 > 4.0
    hot = []
    for i in range(900):
        v = [0.0] * 8
        v[0] = 10.0 + (i % 13) * 0.01
        v[1] = (i % 7) * 0.01
        v[2] = i * 0.0005  # unique per id
        nrm = math.sqrt(sum(x * x for x in v))
        hot.append((20000 + i, [x / nrm for x in v]))
    mv.add_embeddings(hot)
    stats = mv.refresh_ann_index()
    assert stats.get("retrained") is True
    assert stats["n_rows"] == 1300


def test_search_embeddings_many_batch_matches_single(spark):
    """The facade batch retrieval (ann=True) is one cogrouped job that
    must reproduce the single-query ANN path query by query, and the
    exact path must answer every query below the engage threshold."""
    pairs = _unit_blob_pairs()
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    queries = spark.createDataFrame(
        [(fid, v) for fid, v in pairs if fid % 150 == 3],
        "query_id long, query_vec array<double>",
    )
    batch = mv.search_embeddings_many(queries, k=5, ann=True)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.score))
    assert set(got) == {fid for fid, _ in pairs if fid % 150 == 3}
    for qrow in queries.collect():
        single = [
            (r.rank, r.vec_id, r.score)
            for r in mv.search_embeddings(
                list(qrow.query_vec), k=5, ann=True
            ).collect()
        ]
        assert sorted(got[qrow.query_id]) == sorted(single)


def test_search_embeddings_many_exact_below_engage(spark):
    """Below 1000 vectors the batch path is the exact broadcast join —
    per-query rows equal the exact single-query scan (cosine, self
    excluded by the join condition)."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < 1000
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    queries = spark.createDataFrame(
        [(9999, pairs[5][1])], "query_id long, query_vec array<double>"
    )
    batch = [(r.vec_id, r.score, r.rank)
             for r in mv.search_embeddings_many(
                 queries, k=5, ann=True).collect()]
    single = [(r.vec_id, r.score, r.rank)
              for r in mv.search_embeddings(pairs[5][1], k=5).collect()]
    assert batch == single


def test_build_ann_serving_auto_sizes_cells(spark):
    """n_cells=None (the default) sizes the cell count from the corpus
    (auto_n_cells): probes x cell_size stays constant as data grows
    instead of cells fattening at a pinned count (VERDICT r8 #1)."""
    from memvid_spark.operators.hnsw import auto_n_cells

    pairs = _unit_blob_pairs()  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(m=8, ef_construction=60, probes=4,
                         target_cell_rows=200)
    assert mv._ann_meta["n_cells"] == auto_n_cells(1200, 200) == 6
    assert mv._ann_meta["auto_cells"] is True
    q = _qvec(pairs, 3)
    approx = {r.vec_id
              for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8
    # explicit n_cells pins it (legacy posture), flagged in meta
    mv2 = MemvidSpark(spark)
    mv2.add_embeddings(pairs)
    mv2.build_ann_serving(n_cells=4, m=8, ef_construction=60)
    assert mv2._ann_meta["n_cells"] == 4
    assert mv2._ann_meta["auto_cells"] is False


def test_refresh_resizes_auto_tier_when_corpus_outgrows_cells(spark):
    """An auto-sized tier whose corpus has outgrown target_cell_rows
    retrains at refresh time with MORE cells; a pinned tier under the
    same growth keeps its count (no surprise rebuild of a user-pinned
    layout)."""
    from memvid_spark.operators.hnsw import auto_n_cells

    seed = _unit_blob_pairs(n_blobs=4, per_blob=300)  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(seed)
    mv.build_ann_serving(m=8, ef_construction=60, target_cell_rows=300)
    n0 = mv._ann_meta["n_cells"]
    assert n0 == auto_n_cells(1200, 300) == 4
    # triple the corpus: mean occupancy 3600/4 = 900 > 2x300 -> resize
    mv.add_embeddings(_unit_blob_pairs(n_blobs=4, per_blob=600,
                                       start_id=10_000))
    stats = mv.refresh_ann_index()
    assert stats.get("retrained") is True
    assert mv._ann_meta["n_cells"] == auto_n_cells(3600, 300) == 12
    q = _qvec(seed, 3)
    approx = {r.vec_id
              for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


@pytest.mark.parametrize("kind", TIERS)
def test_doctor_heals_stale_entry_cover(spark, kind):
    """A legacy (pre-entry-cover) served index is a silent recall
    hazard; doctor() flags every cover-less sub-graph and heal
    rewrites the covers in place — no rebuild, no retrain, index rows
    otherwise untouched."""
    t = _Tier(spark, kind)
    t.mv.put("doc zero")
    t.add(12)
    t.build(n_cells=3)
    cover = f"{t.key}_entry_cover"
    n_shards = t.index.select("cell", "shard").distinct().count()
    rows_before = t.index.count()
    assert _report(t.mv)[("stale_entry_cover", cover)] == 0
    # simulate the legacy store: entry column absent entirely
    t.index = t.index.drop("entry").localCheckpoint()
    assert _report(t.mv)[("stale_entry_cover", cover)] == n_shards
    healed = _report(t.mv, heal=True)
    assert healed[("stale_entry_cover", cover)] == 0
    assert "entry" in t.index.columns
    assert t.index.count() == rows_before
    assert t.index.filter(F.col("entry")).count() >= n_shards


def test_ask_routes_vector_list_through_serving_tier(spark):
    """ask(query_vec=...) mirrors the reference's brute-vs-HNSW engage
    threshold (vec.rs:22-23, 57-60): past ANN_ENGAGE_ROWS the vector
    candidate list comes from the IVF-NSW serving tier; below it — or
    with ann=False — the exact cosine scan stays the correctness tier.
    RRF consumes ranks, so the L2 tier negates into rank order."""
    pairs = _unit_blob_pairs()  # 1200 rows >= engage threshold
    mv = MemvidSpark(spark)
    for i in range(6):
        mv.put(f"alpha beta document number {i}")
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    q = _qvec(pairs, 3)
    res = mv.ask("alpha beta", query_vec=q)
    assert mv._last_ask_vec_route == "ann"
    assert res.citations  # the fused pipeline still answers
    res_exact = mv.ask("alpha beta", query_vec=q, ann=False)
    assert mv._last_ask_vec_route == "exact"
    assert res_exact.citations
    # lexical-only ask is untouched (no vector list, no route marker)
    mv._last_ask_vec_route = None
    mv.ask("alpha beta")
    assert mv._last_ask_vec_route is None
    # below the engage threshold ann=True still routes exact
    small_pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 rows
    mv2 = MemvidSpark(spark)
    mv2.put("alpha beta tiny store")
    mv2.add_embeddings(small_pairs)
    mv2.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    mv2.ask("alpha beta", query_vec=_qvec(small_pairs, 5), ann=True)
    assert mv2._last_ask_vec_route == "exact"


def test_bulk_ingest_spills_buffer_and_flushes_ann(spark, tmp_path, monkeypatch):
    """Driver memory stays bounded through a bulk session ingest: past
    EMB_SPILL_ROWS the Python-side vector buffer spills to a session
    parquet (append per spill — O(total rows) across spills) and the
    buffered ANN delta auto-applies. Without the bound both lists grow
    with every put — the driver-side corpus-proportional state this
    engine bans everywhere else."""
    monkeypatch.setattr(MemvidSpark, "EMB_SPILL_ROWS", 100)
    pairs = _unit_blob_pairs(n_blobs=4, per_blob=300)  # 1200 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs[:1100])
    mv.build_ann_serving(n_cells=4, m=8, ef_construction=60, probes=2)
    # feed the rest in batches: buffer and pending must stay bounded
    for i in range(1100, 1200, 20):
        mv.add_embeddings(pairs[i:i + 20])
        assert len(mv._emb_buffer) < 100 + 20
        assert len(mv._ann_pending) < 100 + 20
    assert mv.embeddings().count() == 1200
    # the auto-flushed ANN delta serves the late adds without an
    # explicit refresh/save
    mv.refresh_ann_index()
    q = _qvec(pairs, 1195)
    got = mv.search_embeddings(q, k=1, ann=True).head()
    assert got.vec_id == 1195
    # save() re-roots the track and drops the spill dir
    spill = mv._emb_spill_dir
    assert spill is not None
    path = str(tmp_path / "store")
    mv.save(path)
    import os

    assert mv._emb_spill_dir is None and not os.path.exists(spill)
    re = MemvidSpark.open(spark, path)
    assert re.embeddings().count() == 1200


def test_ask_query_vec_exact_fallback_on_compressed_store(spark):
    """ADVICE r9 (medium): with vector compression declared, the exact
    fallback of ask(query_vec=...) routes through the sq8/pq scans,
    whose output column is approx_dist (ascending-is-better) — the old
    select of F.col("score") raised AnalysisException. The fix negates
    approx_dist into rank order, so the vector list still fuses and the
    query's own frame ranks first on both quantized tiers."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)  # 120 < engage
    mv = MemvidSpark(spark)
    for fid, _v in pairs[:6]:
        mv.put(f"memo about topic {fid}")
    mv.add_embeddings(pairs)
    for comp in ("sq8", "pq"):
        mv.set_vector_compression(comp)
        res = mv.ask("memo topic", top_k=3, query_vec=_qvec(pairs, 2))
        assert mv._last_ask_vec_route == "exact"
        assert res.answer is not None


def test_build_ann_serving_raised_clamp_trains_distributed(spark):
    """VERDICT r9 #6 + #1 through the facade: a 100 TB operator raises
    the auto-size clamp (max_cells) without forking code — past 4096
    cells the coarse trainer goes distributed (per-super-group k-means)
    and assignment routes two-level; the tier still serves with the
    recall bound, and the clamp survives in the tier meta (so drift
    retrains re-size within the caller's bounds)."""
    pairs = _unit_blob_pairs(n_blobs=5, per_blob=1000)  # 5000 rows
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(
        m=8, ef_construction=60, probes=16,
        target_cell_rows=1, max_cells=8192,
    )
    meta = mv._ann_meta
    # the trainer may return slightly fewer than asked (a group whose
    # largest-remainder budget exceeds its sample rows trains what it
    # has) — the contract is: past the old clamp, exactly bounded
    assert 4096 < meta["n_cells"] <= 5000
    assert meta["max_cells"] == 8192
    q = _qvec(pairs, 7)
    approx = {r.vec_id for r in mv.search_embeddings(q, k=10, ann=True).collect()}
    exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
    assert len(approx & exact) / 10 >= 0.8


def test_stats_surfaces_serving_tier_meta(spark):
    """stats() reports both serving tiers' (n_cells, n_rows) — the
    numbers an operator reads next to the drift policy; None before a
    tier is built."""
    pairs = _unit_blob_pairs(n_blobs=3, per_blob=40)
    mv = MemvidSpark(spark)
    mv.put("one doc so the frame log has rows")
    mv.add_embeddings(pairs)
    st = mv.stats()
    assert st["ann"] is None and st["img_ann"] is None
    mv.build_ann_serving(n_cells=3, m=8, ef_construction=60)
    st = mv.stats()
    assert st["ann"] == {"n_cells": 3, "n_rows": 120}
    assert st["img_ann"] is None


@pytest.mark.parametrize("kind", TIERS)
def test_frame_model_round_trip(spark, tmp_path, monkeypatch, kind):
    """Past hnsw.FRAME_MODEL_MIN_CELLS (lowered here) a tier's coarse
    model is a hnsw.CentroidFrame — trained, assigned, searched and
    persisted WITHOUT ever collecting the centroid table to the
    driver. Pins: (1) the build keeps a frame model (meta + type);
    (2) mutations on the frame path delta-apply to the graph one fresh
    build with the SAME model gives, row for row; (3) save() persists
    parquet + manifest (no json) and open() reloads a frame serving
    the same graph; (4) the reopened store delta-applies a further
    mutation and doctor reports no drift. The text tier (above the
    engage bound) also serves single and batch queries through the
    frame probe, identically after the round trip, and keeps its
    recall after the reopened delta. The image tier builds auto-sized
    (40 puts at 2 rows a cell: 20 cells), so auto-sizing picks the
    frame form too."""
    monkeypatch.setattr(hnsw, "FRAME_MODEL_MIN_CELLS", 8)
    t = _Tier(spark, kind)
    if kind == "text":
        ids = t.add(1500)
        t.build(n_cells=12, probes=4)
    else:
        ids = t.add(40)
        t.build(target_cell_rows=2, min_cells=12)
    assert isinstance(t.model, CentroidFrame)
    assert t.meta["model"] == "frame"
    assert t.meta["n_cells"] == t.model.n_cells

    def search(mv):
        q = mv.frame_embedding(ids[3])
        return [
            (r.vec_id, r.score, r.rank)
            for r in mv.search_embeddings(q, k=10, ann=True).collect()
        ]

    def recall(mv):
        q = mv.frame_embedding(ids[3])
        approx = {v for v, _, _ in search(mv)}
        exact = {r.vec_id for r in mv.search_embeddings(q, k=10).collect()}
        return len(approx & exact) / 10

    if kind == "text":
        q = t.mv.frame_embedding(ids[3])
        assert recall(t.mv) >= 0.8
        # batch join routes through _probe_cells_frame
        qdf = spark.createDataFrame(
            [(1, q)], "query_id long, query_vec array<double>"
        )
        assert len(t.mv.search_embeddings_many(qdf, k=10, ann=True).collect()) == 10
    # (2) upsert + tombstone -> incremental delta == rebuild
    (new,) = t.add(1)
    t.mv.delete(ids[5])
    t.refresh()
    truth = build_nsw_index_ivf(t.truth(), t.model, m=8, ef_construction=60)
    assert _graph_key(t.index) == _graph_key(truth)
    # (3) persistence: frame dir + no json; reopen loads a frame model
    path = str(tmp_path / "store")
    t.mv.save(path)
    assert os.path.exists(
        os.path.join(path, f"{t.key}_centroids.frame", "manifest.json")
    )
    assert not os.path.exists(os.path.join(path, f"{t.key}_centroids.json"))
    before = search(t.mv) if kind == "text" else None
    re = t.reopen(path)
    assert re.meta["model"] == "frame"
    assert isinstance(re.model, CentroidFrame)
    assert new in re.served() and ids[5] not in re.served()
    if kind == "text":
        assert search(re.mv) == before
    # (4) a further mutation on the REOPENED store delta-applies
    (late,) = re.add(1)
    re.refresh()
    assert late in re.served()
    if kind == "text":
        assert recall(re.mv) >= 0.8
    rep = _report(re.mv)
    assert rep[("missing", f"{t.key}_index")] == 0
    assert rep[("orphaned", f"{t.key}_index")] == 0


def test_frame_model_drift_retrain_stays_frame(spark, monkeypatch):
    """A retrain of a frame-model tier (the rebuild the drift policy
    and the doctor heal share) trains the same form again: the form
    follows the cell count, auto-resize included."""
    monkeypatch.setattr(hnsw, "FRAME_MODEL_MIN_CELLS", 8)
    pairs = _unit_blob_pairs(n_blobs=4, per_blob=300)
    mv = MemvidSpark(spark)
    mv.add_embeddings(pairs)
    mv.build_ann_serving(n_cells=10, m=8, ef_construction=60, probes=4)
    assert mv._ann_meta["model"] == "frame"
    mv._text_tier.rebuild()
    assert isinstance(mv._ann_cents, CentroidFrame)
    assert mv._ann_meta["model"] == "frame"


def test_opens_store_saved_with_frame_model_bound(spark, tmp_path):
    """Stores saved before the model form moved into hnsw record a
    ``frame_model_min_cells`` bound in each tier's manifest meta next
    to a json model. open() ignores the key and serves identical
    answers."""
    t = _Tier(spark, "text")
    ids = t.add(1200)  # above the engage bound: the ANN route serves
    t.build(n_cells=4)
    img = _Tier(spark, "image", mv=t.mv)
    img.add(6)
    img.build()
    q = t.mv.frame_embedding(ids[3])
    path = str(tmp_path / "store")
    t.mv.save(path)
    before = [
        (r.vec_id, r.score, r.rank)
        for r in t.mv.search_embeddings(q, k=10, ann=True).collect()
    ]
    man_path = os.path.join(path, "manifest.json")
    with open(man_path, encoding="utf-8") as f:
        man = json.load(f)
    for key in ("ann", "img_ann"):
        assert os.path.exists(os.path.join(path, f"{key}_centroids.json"))
        man[key]["frame_model_min_cells"] = 4096
    with open(man_path, "w", encoding="utf-8") as f:
        json.dump(man, f)
    re = MemvidSpark.open(spark, path)
    after = [
        (r.vec_id, r.score, r.rank)
        for r in re.search_embeddings(q, k=10, ann=True).collect()
    ]
    assert after == before
    assert re.image_ann_enabled() and re._img_ann_meta["n_rows"] == 6
