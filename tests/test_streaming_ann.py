"""Streaming IVF-NSW index maintenance (streaming/annsink.py): a CDC
stream of vector upserts/tombstones keeps the persisted serving index
equal to a full rebuild over the surviving corpus — the streaming
extension of the reference's finalize-indexes-at-commit lifecycle
(mutation.rs:913-918) with the apply_delta_ivf idempotence contract."""

import pytest
from pyspark.sql import functions as F

from memvid_spark.operators.hnsw import (
    build_nsw_index_ivf,
    nsw_knn,
    train_cell_centroids,
)
from memvid_spark.streaming.annsink import ANN_CDC_SCHEMA, StreamingAnnMaintainer


def _vecs(spark, ids, shift=0.0, dim=6):
    # jitter period 53 is coprime to the dim-6 axis cycle, so every id
    # under lcm(6,53)=318 gets a UNIQUE vector (coincident points make
    # the NSW graph a zero-distance cloud and break k=1 assertions)
    rows = []
    for i in ids:
        v = [0.0] * dim
        v[i % dim] = 10.0 + shift
        for d in range(dim):
            v[d] += ((i * (d + 3)) % 53) * 0.01
        rows.append((i, v))
    return rows


def _graph_rows(df):
    return sorted(
        (r.cell, r.shard, r.vec_id, tuple(r.neighbors), bool(r.entry))
        for r in df.collect()
    )


def _cents(spark, rows):
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return [
        [float(x) for x in c]
        for c in train_cell_centroids(emb, n_cells=3, train_sample=1000)
    ]


def test_streaming_batches_equal_full_rebuild(spark, tmp_path):
    """Three micro-batches (insert, insert+tombstone, upsert-move) land
    the persisted index EXACTLY where one build over the surviving
    corpus lands — row-for-row, entry cover included."""
    all_rows = _vecs(spark, range(90))
    cents = _cents(spark, all_rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)

    def cdc(rows, deleted=(), seq=0):
        data = [(i, v, False, seq) for i, v in rows]
        data += [(i, None, True, seq) for i in deleted]
        return spark.createDataFrame(data, ANN_CDC_SCHEMA)

    mt.apply_batch(cdc(all_rows[:40]), 0)
    mt.apply_batch(cdc(all_rows[40:80], deleted=[3, 17], seq=1), 1)
    # batch 2: move vec 5 to a different region (upsert across cells)
    moved = _vecs(spark, [5], shift=4.0)
    mt.apply_batch(cdc(all_rows[80:] + moved, seq=2), 2)

    surviving = {i: v for i, v in all_rows if i not in (3, 17)}
    surviving[5] = moved[0][1]
    truth_emb = spark.createDataFrame(
        sorted(surviving.items()), "vec_id long, embedding array<double>"
    )
    truth = build_nsw_index_ivf(truth_emb, cents, m=8, ef_construction=60)
    assert _graph_rows(mt.index(spark)) == _graph_rows(truth)


def test_streaming_replay_is_noop(spark, tmp_path):
    """Re-delivering a micro-batch (foreachBatch's failure semantics)
    leaves the index byte-identical — exactly-once by determinism."""
    rows = _vecs(spark, range(50))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    b0 = spark.createDataFrame(
        [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
    )
    mt.apply_batch(b0, 0)
    before = _graph_rows(mt.index(spark))
    mt.apply_batch(b0, 0)  # replay
    assert _graph_rows(mt.index(spark)) == before


def test_last_state_wins_within_batch(spark, tmp_path):
    """One micro-batch carrying several states of one vec_id collapses
    to the highest seq; at equal seq the tombstone wins."""
    rows = _vecs(spark, range(30))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    seed = spark.createDataFrame(
        [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
    )
    mt.apply_batch(seed, 0)
    v_old = rows[7][1]
    v_new = _vecs(spark, [7], shift=4.0)[0][1]
    mixed = spark.createDataFrame(
        [
            (7, v_old, False, 1),
            (7, v_new, False, 2),   # highest seq: this upsert wins
            (9, rows[9][1], False, 1),
            (9, None, True, 1),     # equal seq: tombstone wins
        ],
        ANN_CDC_SCHEMA,
    )
    mt.apply_batch(mixed, 1)
    idx = mt.index(spark)
    got7 = [
        list(r.embedding)
        for r in idx.filter(F.col("vec_id") == 7).collect()
    ]
    assert got7 == [v_new]
    assert idx.filter(F.col("vec_id") == 9).count() == 0


def test_readstream_foreachbatch_wiring(spark, tmp_path):
    """The real Structured Streaming path: a file-source CDC stream
    drives foreachBatch (one file per trigger), and the maintained
    index serves correct neighbors for a late-arriving vector."""
    src = tmp_path / "cdc"
    src.mkdir()
    rows = _vecs(spark, range(60))
    cents = _cents(spark, rows)
    spark.createDataFrame(
        [(i, v, False, 0) for i, v in rows[:50]], ANN_CDC_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(i, v, False, 1) for i, v in rows[50:]], ANN_CDC_SCHEMA
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(ANN_CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    mt.run(stream)
    idx = mt.index(spark)
    assert idx.select("vec_id").distinct().count() == 60
    # a vector from the second trigger is findable
    q = rows[55][1]
    hits = {r.vec_id for r in nsw_knn(idx, q, k=1).collect()}
    assert hits == {55}
    needs, stats = mt.drift(spark)
    assert stats["n_rows"] == 60 and needs is False


def test_auto_retrain_on_drift(spark, tmp_path):
    """auto_retrain: a batch piling inserts into ONE region pushes
    occupancy skew past the bound; the same trigger retrains the coarse
    model on the indexed vectors and rebuilds, and the rebuilt cells
    match the fresh data (drift cleared, searches stay correct)."""
    base = _vecs(spark, range(24))
    cents = _cents(spark, base)
    mt = StreamingAnnMaintainer(
        str(tmp_path / "ann"), cents, m=8, ef_construction=60,
        auto_retrain=True, engage_rows=10, max_skew=1.8,
    )
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in base], ANN_CDC_SCHEMA
        ),
        0,
    )
    before = [list(c) for c in mt.centroids]
    # hot batch: 60 vectors crammed into one tight far region
    hot = [
        (100 + i, [50.0 + (i % 5) * 0.01, 50.0 + ((i * 3) % 7) * 0.01,
                   0.1 * (i % 4), 0.0, 0.0, 0.0])
        for i in range(60)
    ]
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 1) for i, v in hot], ANN_CDC_SCHEMA
        ),
        1,
    )
    assert [list(c) for c in mt.centroids] != before  # retrained
    needs, stats = mt.drift(spark)
    assert stats["n_rows"] == 84 and needs is False  # skew resolved
    idx = mt.index(spark)
    hits = {r.vec_id for r in nsw_knn(idx, hot[0][1], k=1).collect()}
    assert hits == {100}


def test_partition_overwrite_clears_drained_cell(spark, tmp_path):
    """Per-trigger I/O is partition-level: a batch tombstoning EVERY
    row of one cell must clear that cell's directory (dynamic overwrite
    writes zero rows for it), leave untouched cells' files alone, and
    still equal a full rebuild over the survivors."""
    import os

    rows = _vecs(spark, range(60))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
        ),
        0,
    )
    idx0 = mt.index(spark)
    by_cell = {
        int(r["cell"]): [int(x) for x in r["ids"]]
        for r in idx0.groupBy("cell")
        .agg(F.collect_list("vec_id").alias("ids"))
        .collect()
    }
    victim = min(by_cell)  # drain this cell entirely
    victim_dir = os.path.join(mt.index_path, f"cell={victim}")
    other = max(by_cell)
    other_mtime = max(
        os.path.getmtime(os.path.join(mt.index_path, f"cell={other}", f))
        for f in os.listdir(os.path.join(mt.index_path, f"cell={other}"))
    )
    assert os.path.exists(victim_dir)
    mt.apply_batch(
        spark.createDataFrame(
            [(i, None, True, 1) for i in by_cell[victim]], ANN_CDC_SCHEMA
        ),
        1,
    )
    assert not os.path.exists(victim_dir)  # drained dir cleared
    # untouched cell's files were not rewritten (partition-level I/O)
    assert max(
        os.path.getmtime(os.path.join(mt.index_path, f"cell={other}", f))
        for f in os.listdir(os.path.join(mt.index_path, f"cell={other}"))
    ) == other_mtime
    surviving = [(i, v) for i, v in rows if i not in set(by_cell[victim])]
    truth_emb = spark.createDataFrame(
        surviving, "vec_id long, embedding array<double>"
    )
    truth = build_nsw_index_ivf(truth_emb, cents, m=8, ef_construction=60)
    assert _graph_rows(mt.index(spark)) == _graph_rows(truth)


def test_swap_crash_recovery_never_presents_empty_index(spark, tmp_path):
    """A crash at ANY window of _swap must not leave the maintainer
    looking at an empty index (which would silently bootstrap from the
    next batch alone — after a retrain that loses the whole serving
    index). Rename-aside sequence: (a) complete .tmp + live index
    missing -> promote .tmp; (b) only .old left behind -> promote .old;
    (c) stale leftovers next to a live index -> cleared."""
    import shutil

    rows = _vecs(spark, range(60))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
        ),
        0,
    )
    before = _graph_rows(mt.index(spark))
    assert before  # populated

    # window (b) of a crashed swap: live index renamed aside, the new
    # .tmp fully written — recovery must promote .tmp
    shutil.copytree(mt.index_path, mt.index_path + ".tmp")
    import os

    os.replace(mt.index_path, mt.index_path + ".old")
    assert _graph_rows(mt.index(spark)) == before
    assert not os.path.exists(mt.index_path + ".tmp")
    assert not os.path.exists(mt.index_path + ".old")

    # earlier window: only .old exists (crash between the two renames
    # with no tmp — or tmp promoted then crashed) — promote .old
    os.replace(mt.index_path, mt.index_path + ".old")
    assert _graph_rows(mt.index(spark)) == before

    # stale leftover next to a LIVE index is garbage: cleared, live wins
    shutil.copytree(mt.index_path, mt.index_path + ".tmp")
    assert _graph_rows(mt.index(spark)) == before
    assert not os.path.exists(mt.index_path + ".tmp")


def test_retrain_resizes_cell_count_from_corpus(spark, tmp_path):
    """Continuous ingest grows the CELL COUNT, not the cell size: with
    target_cell_rows set, drift() trips once mean occupancy outgrows
    the target and retrain() re-sizes n_cells via auto_n_cells — the
    r8 posture gap (retrain kept len(centroids) forever, so per-query
    and per-delta work grew with the corpus)."""
    from memvid_spark.operators.hnsw import auto_n_cells

    rows = _vecs(spark, range(120))
    cents = _cents(spark, rows)  # 3 trained cells -> mean 40 rows/cell
    mt = StreamingAnnMaintainer(
        str(tmp_path / "ann"), cents, m=8, ef_construction=60,
        engage_rows=50, target_cell_rows=10,
    )
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
        ),
        0,
    )
    needs, stats = mt.drift(spark)
    assert needs is True and stats.get("overgrown") is True
    mt.retrain(spark)
    assert len(mt.centroids) == auto_n_cells(120, 10) == 12
    # the resized index still serves: self-query returns itself first
    got = nsw_knn(mt.index(spark), rows[7][1], k=1).head()
    assert got.vec_id == 7
    # pinned maintainer (target None) keeps the trained count
    mt2 = StreamingAnnMaintainer(
        str(tmp_path / "ann2"), cents, m=8, ef_construction=60,
        engage_rows=50, target_cell_rows=None,
    )
    mt2.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
        ),
        0,
    )
    assert mt2.drift(spark)[0] is False
    mt2.retrain(spark)
    assert len(mt2.centroids) == 3


def test_equal_seq_upsert_tiebreak_is_order_independent(spark, tmp_path):
    """Two upserts for one vec_id at the SAME seq with different
    embeddings: last-state must pick the same winner whatever order the
    rows arrive in (ADVICE r8: bare max_by picked arbitrarily, so a
    replayed micro-batch could flip the row and break replay-is-a-noop).
    The tiebreak is the embedding hash — deterministic, content-based."""
    mt = StreamingAnnMaintainer(
        str(tmp_path / "ann"), [[0.0] * 4], m=8, ef_construction=60
    )
    va, vb = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    fwd = spark.createDataFrame(
        [(1, va, False, 5), (1, vb, False, 5)], ANN_CDC_SCHEMA
    )
    rev = spark.createDataFrame(
        [(1, vb, False, 5), (1, va, False, 5)], ANN_CDC_SCHEMA
    )
    pick_f = mt._last_state(fwd).head()
    pick_r = mt._last_state(rev).head()
    assert list(pick_f.embedding) == list(pick_r.embedding)
    # delete-wins at equal seq still holds above the hash tiebreak
    mixed = spark.createDataFrame(
        [(1, va, False, 5), (1, None, True, 5), (1, vb, False, 5)],
        ANN_CDC_SCHEMA,
    )
    assert mt._last_state(mixed).head().deleted is True


def test_partial_bootstrap_tmp_is_not_promoted(spark, tmp_path):
    """ADVICE r9: a crash DURING the first-ever bootstrap .tmp write
    (before any live index exists) leaves a partial, uncommitted
    parquet dir — recovery must DELETE it (the checkpoint replays the
    bootstrap), never promote it as the live index. Commit is judged
    by the Spark _SUCCESS marker; a committed .tmp still promotes."""
    import os

    rows = _vecs(spark, range(40))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(str(tmp_path / "ann"), cents, m=8,
                                ef_construction=60)
    # simulate the torn bootstrap write: a .tmp dir with data files but
    # NO _SUCCESS marker, and no live index
    tmp = mt.index_path + ".tmp"
    os.makedirs(os.path.join(tmp, "cell=0"))
    with open(os.path.join(tmp, "cell=0", "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    idx = mt.index(spark)
    assert idx.count() == 0  # empty bootstrap state, not the torn dir
    assert not os.path.exists(tmp)
    assert not os.path.exists(mt.index_path)
    # the replayed bootstrap batch then builds the real index
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows], ANN_CDC_SCHEMA
        ),
        0,
    )
    assert os.path.exists(os.path.join(mt.index_path, "_SUCCESS"))
    assert nsw_knn(mt.index(spark), rows[3][1], k=1).head().vec_id == 3


def test_out_of_band_retrain_and_swap_between_triggers(spark, tmp_path):
    """VERDICT r9 #2: the serving-lifecycle retrain runs OUT OF BAND
    (supervisor entry point) instead of synchronously inside the
    trigger, reads the persisted parquet index directly (no
    executor-memory pin of the corpus), and the rename-aside swap
    keeps the sequence trigger → retrain_and_swap → trigger exactly
    equal to a full rebuild over the surviving corpus with the NEW
    centroids."""
    from memvid_spark.operators.hnsw import (
        auto_n_cells,
        build_nsw_index_ivf,
    )

    rows = _vecs(spark, range(90))
    cents = _cents(spark, rows)
    mt = StreamingAnnMaintainer(
        str(tmp_path / "ann"), cents, m=8, ef_construction=60,
        engage_rows=50, target_cell_rows=10,
    )
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows[:63]], ANN_CDC_SCHEMA
        ),
        0,
    )
    # no drift crossed -> no retrain, stats still reported
    mt_small = StreamingAnnMaintainer(
        str(tmp_path / "ann2"), cents, m=8, ef_construction=60,
        engage_rows=1000,
    )
    mt_small.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 0) for i, v in rows[:20]], ANN_CDC_SCHEMA
        ),
        0,
    )
    stats = mt_small.retrain_and_swap(spark)
    assert "retrained" not in stats and len(mt_small.centroids) == 3
    # drift crossed (mean occupancy 21 > 2x target 10): supervisor
    # re-sizes and swaps; the next trigger delta-applies against the
    # NEW index with the NEW centroids
    stats = mt.retrain_and_swap(spark)
    assert stats.get("retrained") is True
    assert stats["n_cells"] == auto_n_cells(63, 10) == 7
    mt.apply_batch(
        spark.createDataFrame(
            [(i, v, False, 1) for i, v in rows[63:]], ANN_CDC_SCHEMA
        ),
        1,
    )
    truth = build_nsw_index_ivf(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        mt.centroids, m=8, ef_construction=60,
    )
    assert _graph_rows(mt.index(spark)) == _graph_rows(truth)


def _model(spark, rows, form, monkeypatch):
    """A 6-cell coarse model in the asked form. The frame form lowers
    the hnsw bound, so the sink's retrains keep training frames."""
    from memvid_spark.operators import hnsw

    if form == "frame":
        monkeypatch.setattr(hnsw, "FRAME_MODEL_MIN_CELLS", 2)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return hnsw.train_coarse_model(emb, 6, n_hint=len(rows))


MODEL_FORMS = ("ndarray", "frame")


@pytest.mark.parametrize("form", MODEL_FORMS)
def test_sink_model_streams_retrains_and_restarts(
    spark, tmp_path, monkeypatch, form
):
    """One model lifecycle for both coarse-model forms (a frame model
    is never collected). Pins: (1) streamed batches ≡ one rebuild over
    the surviving corpus; (2) the first batch persists the model next
    to the index in its form, and the index marker names it; (3) a
    FORCED retrain persists a new model generation (model id advances,
    marker matches, no ``.next`` left, form kept); (4) a RESTARTED
    supervisor (centroids=None) reloads the persisted model and its
    next delta still equals the rebuild."""
    import os

    from memvid_spark.operators.hnsw import (
        coarse_model_manifest,
        coarse_model_meta,
        coarse_model_path,
    )

    all_rows = _vecs(spark, range(90))
    store = str(tmp_path / "ann")
    mt = StreamingAnnMaintainer(
        store, _model(spark, all_rows, form, monkeypatch),
        m=8, ef_construction=60, target_cell_rows=None,
    )

    def cdc(rows, deleted=(), seq=0):
        data = [(i, v, False, seq) for i, v in rows]
        data += [(i, None, True, seq) for i in deleted]
        return spark.createDataFrame(data, ANN_CDC_SCHEMA)

    mt.apply_batch(cdc(all_rows[:40]), 0)
    # (2) model persisted in its form, index marker names it
    suffix = ".frame" if form == "frame" else ".json"
    assert coarse_model_path(mt.model_base) == mt.model_base + suffix
    marker = os.path.join(mt.index_path, "_MODEL_ID")
    mid0 = coarse_model_manifest(mt.model_base)["model_id"]
    assert open(marker).read().strip() == mid0
    mt.apply_batch(cdc(all_rows[40:80], deleted=[3, 17], seq=1), 1)
    # (4) restart: a new maintainer with centroids=None reloads
    mt2 = StreamingAnnMaintainer(
        store, None, m=8, ef_construction=60, target_cell_rows=None,
    )
    moved = _vecs(spark, [5], shift=4.0)
    mt2.apply_batch(cdc(all_rows[80:] + moved, seq=2), 2)
    assert coarse_model_meta(mt2.centroids)["model"] == form
    surviving = {i: v for i, v in all_rows if i not in (3, 17)}
    surviving[5] = moved[0][1]
    truth_emb = spark.createDataFrame(
        sorted(surviving.items()), "vec_id long, embedding array<double>"
    )
    # (1) the SAME persisted model must rebuild to the same graph
    model = mt2._coarse_model(spark)
    truth = build_nsw_index_ivf(truth_emb, model, m=8, ef_construction=60)
    assert _graph_rows(mt2.index(spark)) == _graph_rows(truth)
    # (3) forced retrain: a new generation, same form
    stats = mt2.retrain_and_swap(spark, force=True)
    assert stats["retrained"] is True
    assert coarse_model_meta(mt2.centroids)["model"] == form
    mid1 = coarse_model_manifest(mt2.model_base)["model_id"]
    assert mid1 != mid0
    assert open(marker).read().strip() == mid1
    assert coarse_model_path(mt2.model_base + ".next") is None
    # the retrained index serves: k=1 self-lookup on a surviving id
    hit = nsw_knn(
        mt2.index(spark).filter(F.col("cell") >= 0), surviving[8], k=1
    ).collect()
    assert hit[0].vec_id == 8


@pytest.mark.parametrize("form", MODEL_FORMS)
def test_model_crash_window_promotes_matching_next(
    spark, tmp_path, monkeypatch, form
):
    """Crash between the index swap and the model promote: the live
    index's marker names a model that still sits in ``.next`` while
    the live model holds the PREVIOUS generation. The next
    index()/recovery must promote the matching ``.next`` forward and
    reload the in-memory model — serving and delta assignment stay on
    the generation the index was built with."""
    _check_crash_window_recovery(spark, tmp_path, monkeypatch, form, None)


def test_model_crash_window_promotes_legacy_frame_next(
    spark, tmp_path, monkeypatch
):
    """The same crash window in a store left by the earlier frame-only
    lifecycle, which wrote its pending model to
    ``ann_model.frame.next``: recovery must promote that one too, or
    the new-generation index would run against the old model."""
    _check_crash_window_recovery(
        spark, tmp_path, monkeypatch, "frame", "ann_model.frame.next"
    )


def _check_crash_window_recovery(spark, tmp_path, monkeypatch, form, pending):
    """Build, force a retrain, then move the live model to the pending
    slot (``pending`` names it inside the store; None is the current
    ``.next``) and leave a stale previous generation live."""
    import json
    import os
    import shutil

    from memvid_spark.operators.hnsw import (
        coarse_model_manifest,
        coarse_model_meta,
        coarse_model_path,
    )

    rows = _vecs(spark, range(60))
    store = str(tmp_path / "ann")
    mt = StreamingAnnMaintainer(
        store, _model(spark, rows, form, monkeypatch),
        m=8, ef_construction=60, target_cell_rows=None,
    )
    data = [(i, v, False, 0) for i, v in rows]
    mt.apply_batch(spark.createDataFrame(data, ANN_CDC_SCHEMA), 0)
    mt.retrain_and_swap(spark, force=True)
    live_id = coarse_model_manifest(mt.model_base)["model_id"]
    # reconstruct the crash window: the live model becomes .next (the
    # not-yet-promoted new generation); a stale older one sits live
    live = coarse_model_path(mt.model_base)
    suffix = os.path.splitext(live)[1]
    nxt = mt.model_base + ".next"
    pending = os.path.join(store, pending) if pending else nxt + suffix
    shutil.move(live, pending)
    if suffix == ".frame":
        shutil.copytree(pending, live)
        man_p = os.path.join(live, "manifest.json")
    else:
        shutil.copy(pending, live)
        man_p = live
    man = json.load(open(man_p))
    man["model_id"] = "stale-previous-generation"
    json.dump(man, open(man_p, "w"))
    # a fresh supervisor restarts on the crashed state
    mt3 = StreamingAnnMaintainer(
        store, None, m=8, ef_construction=60, target_cell_rows=None,
    )
    idx = mt3.index(spark)  # recovery runs here
    assert coarse_model_manifest(mt.model_base)["model_id"] == live_id
    assert coarse_model_path(nxt) is None
    assert not os.path.exists(pending)
    model = mt3._coarse_model(spark)
    assert coarse_model_meta(model)["model"] == form
    # the healed pair still equals a rebuild over the corpus
    truth_emb = spark.createDataFrame(
        sorted(dict(rows).items()), "vec_id long, embedding array<double>"
    )
    truth = build_nsw_index_ivf(truth_emb, model, m=8, ef_construction=60)
    assert _graph_rows(idx) == _graph_rows(truth)
