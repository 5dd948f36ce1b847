"""Cross-modal shared space: planted-fixture retrieval over real PNG
bytes — the image whose projected vector equals the text query's vector
must rank first with distance 0."""

import numpy as np
import pytest

from memvid_spark.operators import crossmodal as xm
from memvid_spark.sources.image import png_encode


class TestTowers:
    def test_pixel_features_layout(self):
        px = np.zeros((2, 3, 1), dtype=np.uint8)
        px[0, 0, 0] = 250
        # [w, h, ch, min, max, sum%251, sum//n, n]
        assert xm.pixel_features(px) == [3, 2, 1, 0, 250, 250 % 251, 250 // 6, 6]

    def test_text_vec_deterministic_and_token_order_free(self):
        assert xm.text_vec("bright wide image") == xm.text_vec(
            "BRIGHT wide IMAGE"
        )
        assert xm.text_vec("wide bright image") == xm.text_vec(
            "bright wide image"
        )  # bag-of-words sum

    def test_image_vec_is_projection(self):
        feats = [3, 2, 1, 0, 250, 250, 41, 6]
        v = xm.image_vec(feats)
        assert len(v) == xm.DIM
        assert v[0] == sum(feats[i] * xm.proj_weight(i, 0) for i in range(8))


class TestPlantedRetrieval:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rng = np.random.default_rng(3)
        rows = [
            (i, bytes(png_encode(rng.integers(0, 256, (5, 7, 3), dtype=np.uint8))))
            for i in range(20)
        ]
        return spark.createDataFrame(rows, "media_id long, payload binary")

    def test_zero_distance_for_matching_query(self, spark, media):
        vecs = xm.embed_images(media).localCheckpoint()
        # plant: craft a text whose vector IS some image's vector? The
        # towers aren't invertible — instead verify against a NumPy
        # reference ranking computed from the same payloads.
        rows = {r.media_id: np.array(r.emb) for r in vecs.collect()}
        qv = np.array(xm.text_vec("bright wide image"))
        expect = sorted(
            rows, key=lambda m: (int(((rows[m] - qv) ** 2).sum()), m)
        )[:5]
        got = xm.crossmodal_knn(vecs, "bright wide image", k=5).collect()
        assert [r.media_id for r in got] == expect
        assert [r.rank for r in got] == [1, 2, 3, 4, 5]
        assert got[0].dist2 == int(((rows[got[0].media_id] - qv) ** 2).sum())

    def test_facade_put_bytes_to_search_images(self, spark):
        from memvid_spark.api import MemvidSpark

        mv = MemvidSpark(spark)
        rng = np.random.default_rng(11)
        ids = []
        for i in range(6):
            png = bytes(
                png_encode(rng.integers(0, 256, (4 + i, 5, 3), dtype=np.uint8))
            )
            ids.append(mv.put_bytes(png, uri=f"mv2://img/{i}.png"))
        assert all(i is not None for i in ids)
        # surrogate text is a real header parse
        txt = {r.doc_id: r.text for r in mv.docs().collect()}
        assert txt[ids[0]] == "png image 5x4 rgb depth=8"
        got = mv.search_images("bright wide image", k=3).collect()
        assert len(got) == 3 and got[0].rank == 1
        # tombstoned images leave the media view
        mv.delete(ids[0])
        assert mv.media().count() == 5

    def test_self_retrieval_distance_zero(self, spark):
        # plant an image, then query with a fake "text" whose vector we
        # force equal to the image's vector by monkeypatching the text
        # tower — exercises the exact-zero path end to end.
        px = np.full((4, 4, 3), 9, dtype=np.uint8)
        media = spark.createDataFrame(
            [(7, bytes(png_encode(px)))], "media_id long, payload binary"
        )
        vecs = xm.embed_images(media)
        target = xm.image_vec(xm.pixel_features(px))
        orig = xm.text_vec
        try:
            xm.text_vec = lambda t: list(target)
            out = xm.crossmodal_knn(vecs, "ignored", k=1).collect()
        finally:
            xm.text_vec = orig
        assert out[0].media_id == 7 and out[0].dist2 == 0


class TestMediaFacadeModality:
    def test_mixed_media_retention_features_and_manifests(self, spark):
        """put_bytes retains every media modality (typed by mime), image
        search spans all decodable formats, and features/manifests route
        through the real decoders."""
        import numpy as np

        from memvid_spark.api import MemvidSpark
        from memvid_spark.sources.audio import wav_encode
        from memvid_spark.sources.image import bmp_encode, gif_encode
        from memvid_spark.sources.jpeg import jpeg_encode
        from memvid_spark.sources.video import MuxTrack, mp4_mux

        mv = MemvidSpark(spark)
        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        ids = {
            "png": mv.put_bytes(bytes(png_encode(px)), uri="mv2://m/a.png"),
            "bmp": mv.put_bytes(bmp_encode(px), uri="mv2://m/b.bmp"),
            "gif": mv.put_bytes(
                gif_encode(rng.integers(0, 256, (5, 5), dtype=np.uint8), pal),
                uri="mv2://m/c.gif",
            ),
            "jpeg": mv.put_bytes(
                jpeg_encode(np.full((8, 8), 50, dtype=np.uint8)),
                uri="mv2://m/d.jpg",
            ),
            "wav": mv.put_bytes(
                wav_encode(np.arange(100, dtype=np.int16), 8000),
                uri="mv2://m/e.wav",
            ),
            "mp4": mv.put_bytes(
                mp4_mux([MuxTrack("vide", "mp4v", [b"\x01\x02\x03"] * 4,
                                  [100] * 4, sync_every=2)]),
                uri="mv2://m/f.mp4",
            ),
        }
        assert all(v is not None for v in ids.values())
        mimes = {r.media_id: r.mime for r in mv.media().collect()}
        assert len(mimes) == 6
        assert mv.media("image").count() == 4
        assert mv.media("audio").count() == 1
        # cross-modal search covers every image format
        got = mv.search_images("bright wide image", k=4).collect()
        assert {r.media_id for r in got} == {
            ids["png"], ids["bmp"], ids["gif"], ids["jpeg"],
        }
        # modality-routed features: real decode everywhere
        feats = {r.media_id: r for r in mv.media_features().collect()}
        assert feats[ids["wav"]].feat[1] == 8000.0  # sample_rate slot
        assert feats[ids["png"]].feat[0] == 5.0  # width slot
        # video manifest from the real demux
        man = mv.media_manifests().collect()
        assert len(man) == 1
        assert (man[0].n_samples, man[0].n_keyframes) == (4, 2)


class TestImageAnnServing:
    """The cross-modal image space routed through the ANN serving tier
    (VERDICT r9 #4): the reference's SECOND ANN space (clip.rs:297-380
    runs the same HNSW over image vectors). Exact-only search re-decodes
    the whole image corpus per query — the linear term the text tier
    already eliminated."""

    N = 1200  # >= the facade's ANN_ENGAGE_ROWS

    @pytest.fixture(scope="class")
    def store(self, spark):
        from memvid_spark.api import MemvidSpark

        mv = MemvidSpark(spark)
        rng = np.random.default_rng(23)
        # 4 size-blobs of PNGs; per-member pixel noise varies the sum
        # features so embeddings are unique inside a blob
        for i in range(self.N):
            b = i % 4
            px = rng.integers(
                b * 60, b * 60 + 40, (4 + b, 5 + b, 3), dtype=np.uint8
            )
            mv.put_bytes(bytes(png_encode(px)), uri=f"mv2://img/{i}.png",
                         dedup=False)
        mv.build_image_ann_serving(m=8, ef_construction=60, probes=2,
                                   target_cell_rows=300)
        return mv

    def test_routes_and_recall_above_engage(self, spark, store):
        exact = [
            (r.media_id, r.dist2, r.rank)
            for r in store.search_images(
                "bright wide image", k=10, ann=False
            ).collect()
        ]
        assert store._last_image_search_route == "exact"
        got = [
            (r.media_id, r.dist2, r.rank)
            for r in store.search_images("bright wide image", k=10).collect()
        ]
        assert store._last_image_search_route == "ann"
        # identical schema + integer rescore; candidate set approximate
        overlap = len({g[0] for g in got} & {e[0] for e in exact})
        assert overlap / 10 >= 0.8  # src/vec.rs:645-650 bound
        # the rescore is the exact integer metric: any shared hit
        # carries the identical dist2
        ed = dict((e[0], e[1]) for e in exact)
        assert all(d == ed[m] for m, d, _ in got if m in ed)

    def test_below_engage_falls_through_to_exact(self, spark):
        from memvid_spark.api import MemvidSpark

        mv = MemvidSpark(spark)
        rng = np.random.default_rng(29)
        for i in range(8):
            px = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
            mv.put_bytes(bytes(png_encode(px)), uri=f"mv2://s/{i}.png",
                         dedup=False)
        mv.build_image_ann_serving(m=8, ef_construction=60)
        got = mv.search_images("bright wide image", k=3).collect()
        assert mv._last_image_search_route == "exact"
        assert len(got) == 3

    def test_persists_and_reopens_with_pruned_plan(self, spark, store,
                                                   tmp_path_factory):
        path = str(tmp_path_factory.mktemp("imgann") / "store")
        store.save(path)
        from memvid_spark.api import MemvidSpark

        re = MemvidSpark.open(spark, path)
        assert re.image_ann_enabled()
        res = re.search_images("bright wide image", k=5)
        assert re._last_image_search_route == "ann"
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan
        assert len(res.collect()) == 5

    def test_tombstoned_image_leaves_served_hits(self, spark, store):
        top = store.search_images("bright wide image", k=3).collect()
        victim = int(top[0].media_id)
        try:
            store.delete(victim)
            after = {
                r.media_id
                for r in store.search_images("bright wide image", k=3).collect()
            }
            assert store._last_image_search_route == "ann"
            assert victim not in after
        finally:
            store._tombstones.discard(victim)


def test_image_ann_incremental_delta_equals_rebuild(spark):
    """Media mutations apply to the image ANN tier INCREMENTALLY —
    refresh_image_ann_index embeds ONLY the pending payloads and routes
    puts + tombstones through apply_delta_ivf. Pins: (1) the maintained graph equals one fresh
    build over the retained image media with the same centroids,
    row-for-row; (2) doctor reports no drift after the refresh;
    (3) save() applies the delta (reopened store serves the new image
    and not the deleted one); (4) vacuum routes the image tier."""
    from pyspark.sql import functions as F

    from memvid_spark.api import MemvidSpark
    from memvid_spark.operators.hnsw import build_nsw_index_ivf

    mv = MemvidSpark(spark)
    rng = np.random.default_rng(37)
    ids = []
    for i in range(40):
        px = rng.integers(0, 256, (4 + i % 3, 5 + i % 2, 3), dtype=np.uint8)
        ids.append(
            mv.put_bytes(bytes(png_encode(px)), uri=f"mv2://inc/{i}.png",
                         dedup=False)
        )
    mv.build_image_ann_serving(m=8, ef_construction=60)
    # mutations after the build: 6 puts + 2 tombstones
    new_ids = []
    for i in range(6):
        px = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
        new_ids.append(
            mv.put_bytes(bytes(png_encode(px)), uri=f"mv2://inc/n{i}.png",
                         dedup=False)
        )
    mv.delete(ids[3])
    mv.delete(ids[11])
    assert sorted(mv._img_ann_pending) == sorted(new_ids)
    stats = mv.refresh_image_ann_index()
    assert mv._img_ann_pending == []
    assert stats["n_rows"] == 40 + 6 - 2
    # (1) delta == rebuild with the same (immutable-between-retrains)
    # coarse model over the retained media
    truth_emb = xm.embed_images(mv.media("image")).select(
        F.col("media_id").alias("vec_id"),
        F.col("emb").cast("array<double>").alias("embedding"),
    )
    truth = build_nsw_index_ivf(
        truth_emb, mv._img_ann_cents, m=8, ef_construction=60
    )
    key = lambda df: sorted(  # noqa: E731
        (r.cell, r.shard, r.vec_id, tuple(r.neighbors), bool(r.entry))
        for r in df.collect()
    )
    assert key(mv._img_ann_index) == key(truth)
    # (2) doctor: no missing, no orphaned rows after the refresh
    rep = {
        (r.check, r.table_name): r.n_affected for r in mv.doctor().collect()
    }
    assert rep[("missing", "img_ann_index")] == 0
    assert rep[("orphaned", "img_ann_index")] == 0
    # (4) vacuum routes the tier too (no-op here, must not raise)
    mv.vacuum()


def test_image_ann_save_applies_delta_and_reopens(spark, tmp_path):
    from memvid_spark.api import MemvidSpark

    mv = MemvidSpark(spark)
    rng = np.random.default_rng(41)
    ids = [
        mv.put_bytes(
            bytes(png_encode(
                rng.integers(0, 256, (4 + i % 2, 5, 3), dtype=np.uint8)
            )),
            uri=f"mv2://sv/{i}.png", dedup=False,
        )
        for i in range(12)
    ]
    mv.build_image_ann_serving(m=8, ef_construction=60)
    late = mv.put_bytes(
        bytes(png_encode(rng.integers(0, 256, (6, 6, 3), dtype=np.uint8))),
        uri="mv2://sv/late.png", dedup=False,
    )
    mv.delete(ids[2])
    path = str(tmp_path / "store")
    mv.save(path)  # applies the image delta before the write-swap
    re = MemvidSpark.open(spark, path)
    assert re.image_ann_enabled()
    served = {int(r.vec_id) for r in re._img_ann_index.select("vec_id").collect()}
    assert late in served and ids[2] not in served
    assert re._img_ann_meta["n_rows"] == 12


def test_exact_image_search_caches_embed_pass(spark, monkeypatch):
    """Round-11 (VERDICT r10 #5): repeated EXACT image searches reuse
    one persisted embed frame instead of re-decoding every payload per
    query; any media mutation (put / tombstone / save re-root) keys a
    fresh frame. Results stay identical either way (the cache retains
    lineage — eviction just re-decodes)."""
    from memvid_spark.api import MemvidSpark

    mv = MemvidSpark(spark)
    rng = np.random.default_rng(43)
    for i in range(10):
        mv.put_bytes(
            bytes(png_encode(
                rng.integers(0, 256, (4 + i % 2, 5, 3), dtype=np.uint8)
            )),
            uri=f"mv2://c/{i}.png", dedup=False,
        )
    calls = {"n": 0}
    orig = xm.embed_images

    def counting(media, *a, **kw):
        calls["n"] += 1
        return orig(media, *a, **kw)

    monkeypatch.setattr(xm, "embed_images", counting)
    first = [(r.media_id, r.dist2) for r in mv.search_images("q", k=3).collect()]
    assert mv._last_image_search_route == "exact"
    assert calls["n"] == 1
    assert mv._img_embed_cache[1].storageLevel.useMemory
    second = [(r.media_id, r.dist2) for r in mv.search_images("q", k=3).collect()]
    assert calls["n"] == 1  # same frame, no new embed plan
    assert first == second
    # a mutation invalidates: new put -> fresh frame covering it
    new_id = mv.put_bytes(
        bytes(png_encode(rng.integers(0, 256, (7, 7, 3), dtype=np.uint8))),
        uri="mv2://c/new.png", dedup=False,
    )
    got = {r.media_id for r in mv.search_images("q", k=11).collect()}
    assert calls["n"] == 2 and new_id in got
    # a tombstone invalidates too
    mv.delete(new_id)
    got = {r.media_id for r in mv.search_images("q", k=11).collect()}
    assert calls["n"] == 3 and new_id not in got
