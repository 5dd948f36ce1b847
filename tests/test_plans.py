"""Physical-plan contracts: the scale properties README claims are
pinned here so a regression that silently de-optimizes a plan fails CI.

These mirror the reference's optimizer guarantees (SURVEY §4): predicate
pushdown to the scan, broadcast of small join sides, top-k as
TakeOrderedAndProject (per-partition heaps, no full sort), and no
cartesian products anywhere in the inventory.
"""

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q05_filter_pushdown_revenue"]
    df = q(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in scan
    # the pushed filter list must not be empty
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no filters pushed: {optimized}"


def test_star_join_broadcasts_small_dims(spark):
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q03_star_join_revenue"]
    plan = _plan(q(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered_not_full_sort(spark):
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q02_top_orders"]
    plan = _plan(q(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_knn_plan_is_scan_project_topk(spark):
    """Exact kNN must be one scan + projection + top-k — no joins, no
    extra shuffles (the SIMD-scan analogue)."""
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q30_knn_cosine"]
    plan = _plan(q(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_no_cartesian_products_in_inventory(spark):
    """Every registry query must avoid CartesianProduct — similarity
    joins must stay LSH-bucketed / broadcast (O(n^2) guards)."""
    from memvid_spark import registry

    skip = {"q34_pq_recall"}  # driver-side recall harness, not one plan
    offenders = []
    for s in registry.SPECS:
        if s.name in skip:
            continue
        try:
            plan = _plan(s.fn(spark, SF_DIR))
        except Exception as e:  # pragma: no cover - surface as failure
            offenders.append((s.name, f"plan build failed: {e}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((s.name, "CartesianProduct"))
    assert not offenders, offenders


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_partitioned + filtered read must show PartitionFilters at
    the scan (plan-time pruning, not post-scan filtering)."""
    from pyspark.sql import functions as F

    from memvid_spark.operators.skew import read_pruned, write_partitioned

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "bucket", F.col("doc_id") % 4
    )
    out = str(tmp_path / "parts")
    write_partitioned(docs, out, ["bucket"])
    pruned = read_pruned(spark, out, bucket=2)
    scan = pruned._jdf.queryExecution().sparkPlan().toString()
    assert "PartitionFilters: [" in scan
    pf = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf
    assert pruned.count() == docs.filter("bucket = 2").count()


def test_salted_agg_matches_direct(spark):
    from pyspark.sql import functions as F

    from memvid_spark.operators.skew import salted_agg

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {r.event_type: (r.n_rows, r.total) for r in
           salted_agg(ev, "event_type", "value").collect()}
    want = {r.event_type: (r.n, r.t) for r in
            ev.groupBy("event_type")
              .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
              .collect()}
    assert got == want


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must SortMergeJoin with zero
    Exchange operators (co-located join — the recurring-join layout)."""
    from pyspark.sql import functions as F

    from memvid_spark.operators.skew import write_bucketed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_emb")
    write_bucketed(docs, "b_docs", "doc_id", 8)
    write_bucketed(emb, "b_emb", "doc_id", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_docs").join(spark.table("b_emb"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        else:
            # get(key, None) returns None when the key was never set
            # explicitly — unset to fall back to Spark's own default
            # instead of leaving broadcasts disabled for later tests
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_emb")


def test_reranker_registry_dispatch():
    import pytest

    from memvid_spark.operators.ask import get_reranker, semantic_rerank

    assert get_reranker("semantic") is semantic_rerank
    with pytest.raises(KeyError, match="unknown reranker"):
        get_reranker("nope")


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram side of the contamination join must be the
    broadcast build side — the candidate corpus (the 100 TB side) must
    never shuffle for this join."""
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q94_decontamination"]
    plan = _plan(q(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_banded_range_join_is_equi_join(spark):
    """The 5-minute event-pair range join must execute as a hash/merge
    equi-join on (user, bucket) — never BroadcastNestedLoopJoin, which
    is what a naive ts-inequality join degenerates to."""
    from memvid_spark import registry

    q = {s.name: s.fn for s in registry.SPECS}["q97_event_pair_rangejoin"]
    plan = _plan(q(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_mixture_sample_is_narrow_filter(spark):
    """Mixture sampling must be a pure narrow filter over the scan — no
    Exchange, no sort, no join (the no-sampling-pass claim)."""
    from memvid_spark.operators.traindata import mixture_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(mixture_sample(docs, {"src0": 0.5}, default_rate=0.2))
    assert "Exchange" not in plan and "Join" not in plan and "Sort" not in plan


def test_quality_gates_single_scan_no_shuffle(spark):
    from memvid_spark.operators.traindata import quality_gates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quality_gates(docs))
    assert "Exchange" not in plan and "Join" not in plan


def test_zorder_key_interleaves_bits(spark):
    from memvid_spark.operators.skew import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (3, 5), (65535, 65535), (40215, 2442)], "x long, y long"
    )
    got = {(r["x"], r["y"]): r["z"]
           for r in df.withColumn("z", zorder_key("x", "y")).collect()}

    def z_py(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == z_py(x, y)


def test_cluster_by_zorder_improves_two_column_locality(spark):
    """After z-order clustering every partition must cover a small
    rectangle in (x, y) — the property file min/max pruning relies on.
    Compare per-partition spans against an x-only sort, which leaves y
    unclustered."""
    from pyspark.sql import functions as F

    from memvid_spark.operators.skew import cluster_by_zorder

    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )

    def spans(df):
        per = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        return (sum(r["sx"] for r in per) / len(per),
                sum(r["sy"] for r in per) / len(per))

    zx, zy = spans(cluster_by_zorder(grid, "x", "y", n_partitions=16))
    xx, xy = spans(grid.repartitionByRange(16, "x").sortWithinPartitions("x"))
    # x-only layout clusters x but leaves y spanning the full range
    assert xy > n * 0.9
    # z-order keeps BOTH spans a fraction of the domain
    assert zx < n * 0.5 and zy < n * 0.5


def test_plan_lint_no_cartesian_product_any_query(spark):
    """Sweep EVERY registry query's physical plan for CartesianProduct —
    the one join shape that is always wrong at 100 TB. Legitimate
    1-row/broadcast cross joins compile to BroadcastNestedLoopJoin and
    pass; an accidental unkeyed join regression fails here by name."""
    from memvid_spark import registry

    offenders = []
    for s in registry.SPECS:
        df = s.fn(spark, SF_DIR)
        if "CartesianProduct" in _plan(df):
            offenders.append(s.name)
    assert offenders == [], f"CartesianProduct in: {offenders}"


def test_store_reads_plan_no_python_rdd_scan(spark, tmp_path, monkeypatch):
    """The facade's session buffers (puts, vectors, chunk vectors, media,
    tombstones) are JVM-local relations. After one write of each kind,
    no read of a seeded store plans a ``Scan ExistingRDD`` — a PythonRDD
    whose every execution runs Python worker tasks — and neither does
    an empty store's docs()."""
    import numpy as np
    from pyspark.sql import functions as F

    from memvid_spark.api import MemvidSpark
    from memvid_spark.sources.image import png_encode

    seed_path = str(tmp_path / "seed")
    sid = F.col("id").cast("string")
    spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("seed note about spark memory "), sid).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("mv2://frames/"), sid).alias("source"),
        F.lit(30).cast("long").alias("n_chars"),
    ).write.parquet(seed_path)
    mv = MemvidSpark(spark, seed=spark.read.parquet(seed_path))
    ids = [mv.put(f"spark memory put number {i}") for i in range(3)]
    mv.add_embeddings([(i, [float(i + 1), 1.0, 0.5]) for i in [0, 1, *ids]])
    mv.delete(ids[0])
    mv.put_bytes(png_encode(np.zeros((4, 4, 3), dtype=np.uint8)), uri="a.png")
    mv.put_with_chunk_embeddings(
        b"chunked spark memory text " * 8, [[1.0, 0.0], [0.0, 1.0]]
    )

    reads = {
        "docs": mv.docs(),
        "frames": mv.frames(),
        "embeddings": mv.embeddings(),
        "chunk_embeddings": mv.chunk_embeddings(),
        "media": mv.media(),
        "search": mv.search("spark memory"),
        "_ann_active_track": mv._ann_active_track(),
        "empty docs": MemvidSpark(spark).docs(),
    }
    plans = {name: _plan(df) for name, df in reads.items()}
    # ask() collects internally: record the plan of every frame it
    # collects
    asked = []
    frame_cls = type(mv.docs())
    collect = frame_cls.collect

    def recording(df):
        asked.append(_plan(df))
        return collect(df)

    monkeypatch.setattr(frame_cls, "collect", recording)
    mv.ask("spark memory", query_vec=[1.0, 1.0, 0.5])
    monkeypatch.undo()
    assert asked
    plans.update({f"ask collect {i}": p for i, p in enumerate(asked)})
    assert mv.media().count() == 1 and mv.chunk_embeddings().count() == 2
    assert [n for n, p in plans.items() if "ExistingRDD" in p] == []
