"""Streaming maintenance of the IVF-cell NSW serving index.

The reference finalizes its vector index at commit time
(finalize_indexes, src/memvid/mutation.rs:913-918) and rebuilds it
from the TOC after vacuum (mutation.rs:2999-3084) — a batch lifecycle.
A pipeline ingesting vectors continuously wants the same index kept
fresh WITHOUT a per-commit full rebuild: this sink consumes a CDC-ish
stream of vector upserts/tombstones and routes every micro-batch
through ``apply_delta_ivf`` (operators/hnsw.py), so each trigger
rebuilds only the cells the batch touches and the persisted
``partitionBy("cell")`` layout keeps serving planning-time-pruned
searches between triggers.

Exactly-once falls out of determinism, not a manifest: delta-apply is
a pure function of (surviving old rows ∪ batch) per touched cell, so a
replayed micro-batch rebuilds the same cells to the identical graph —
re-delivery after a failure is a no-op in effect (pinned row-for-row
in tests/test_streaming_ann.py). The swap itself is tmp+rename, the
same crash-safe pattern as the facade's save().
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.hnsw import (
    CELL_GRAPH_SCHEMA,
    apply_delta_ivf,
    as_coarse_model,
    auto_n_cells,
    coarse_model_manifest,
    coarse_model_meta,
    coarse_model_path,
    drop_coarse_model,
    ivf_needs_retrain,
    load_coarse_model,
    save_coarse_model,
)
from ..session import local_frame

# the CDC row contract: an upsert carries the new embedding; a
# tombstone sets deleted=true (embedding ignored); ``seq`` orders
# multiple states of one vec_id WITHIN a micro-batch (commit sequence /
# event time — any monotonic long). Absent columns default: deleted
# false, seq 0.
ANN_CDC_SCHEMA = "vec_id long, embedding array<double>, deleted boolean, seq long"


class StreamingAnnMaintainer:
    """foreachBatch sink keeping a persisted IVF-NSW index current.

    The coarse centroid model is immutable between retrains (the same
    contract as ``apply_delta_ivf``); ``drift()`` exposes the
    ``ivf_needs_retrain`` policy so a supervisor can schedule a retrain
    + full rebuild when occupancy skew crosses the bound.
    """

    def __init__(
        self,
        store_dir: str,
        centroids=None,
        m: int = 16,
        ef_construction: int = 100,
        max_shard_rows: int = 25000,
        auto_retrain: bool = False,
        engage_rows: int = 1000,
        max_skew: float = 4.0,
        target_cell_rows: int | None = 25000,
        min_cells: int = 4,
        max_cells: int = 4096,
    ):
        self.store_dir = store_dir
        os.makedirs(store_dir, exist_ok=True)
        # either coarse-model form (hnsw.train_coarse_model picks it by
        # size). The model persists next to the index (``model_base``)
        # on first use and on every retrain, so a restarted supervisor
        # reconstructs the maintainer with centroids=None.
        if centroids is None:
            if coarse_model_path(self.model_base) is None:
                raise ValueError(
                    "centroids=None needs a persisted model at "
                    f"{self.model_base} (a restarted supervisor reopens "
                    "the model the last retrain persisted)"
                )
            self.centroids = None  # loaded lazily on first index() use
        else:
            self.centroids = as_coarse_model(centroids)
        self.m = m
        self.ef_construction = ef_construction
        self.max_shard_rows = max_shard_rows
        self.auto_retrain = auto_retrain
        self.engage_rows = engage_rows
        self.max_skew = max_skew
        # corpus-sized cells: a retrain RE-SIZES n_cells from the live
        # row count (auto_n_cells) instead of pinning len(centroids)
        # forever — at a fixed cell count mean cell size grows with the
        # corpus and drags per-query probe CPU and per-delta rebuild
        # wall with it. The drift policy triggers the retrain when mean
        # occupancy outgrows this target (ivf_needs_retrain). None pins
        # the trained cell count. min/max_cells are the auto_n_cells
        # clamp.
        self.target_cell_rows = target_cell_rows
        self.min_cells = min_cells
        self.max_cells = max_cells

    @property
    def index_path(self) -> str:
        return os.path.join(self.store_dir, "ann_index.parquet")

    @property
    def model_base(self) -> str:
        """Where the coarse model persists: ``ann_model.frame`` or
        ``ann_model.json`` (hnsw.save_coarse_model)."""
        return os.path.join(self.store_dir, "ann_model")

    # marker file INSIDE the index directory naming the model the
    # index was built/delta'd against (underscore prefix: Spark's
    # parquet reader ignores it). The retrain sequence is
    #   write model → .next  →  swap index (carrying the marker)
    #   →  promote model .next → live
    # so every crash window recovers forward: a live index whose
    # marker doesn't match the live model promotes the matching .next
    # (_recover_model) — the delta ≡ rebuild contract requires the
    # SERVED index and the ASSIGNING model to be the same generation.
    _MODEL_MARKER = "_MODEL_ID"

    def _coarse_model(self, spark: SparkSession):
        """The assigning model: reloaded from disk after a restart or a
        recovery promote; a caller-passed model persists on first use
        under a fresh id, so every index on disk names a model a
        restarted supervisor can reload."""
        import uuid

        if self.centroids is None:
            self.centroids = load_coarse_model(spark, self.model_base)
        elif coarse_model_path(self.model_base) is None:
            self.centroids = save_coarse_model(
                self.centroids,
                self.model_base,
                extra={"model_id": uuid.uuid4().hex},
            )
        return self.centroids

    def n_cells_trained(self, spark: SparkSession | None = None) -> int:
        if self.centroids is None and spark is not None:
            self._coarse_model(spark)
        return coarse_model_meta(self.centroids)["n_cells"]

    def index(self, spark: SparkSession) -> DataFrame:
        """The persisted serving index (empty graph before the first
        batch) — read fresh each call so a swapped write is visible.
        Recovers a crashed ``_swap`` first: a leftover COMMITTED
        ``.tmp`` (``_SUCCESS`` marker — fully written before any rename
        starts) or ``.old`` directory with no live index promotes in
        place, so a crash mid-swap can never present an EMPTY index and
        trick the next trigger into a silent bootstrap rebuild from one
        batch; an UNcommitted ``.tmp`` (a crash during the first-ever
        bootstrap write) is deleted and the checkpoint replay
        re-bootstraps.
        Promoting ``.tmp`` over ``.old`` is safe either way: the
        interrupted batch is uncommitted in the streaming checkpoint,
        replays, and delta-apply is idempotent by determinism."""
        self._recover_swap()
        if not os.path.exists(self.index_path):
            return local_frame(spark, [], CELL_GRAPH_SCHEMA)
        spark.catalog.refreshByPath(self.index_path)
        return spark.read.parquet(self.index_path)

    def _recover_swap(self) -> None:
        import shutil

        tmp, old = self.index_path + ".tmp", self.index_path + ".old"
        if not os.path.exists(self.index_path):
            # promote .tmp only if its Spark write COMMITTED (_SUCCESS
            # marker): '.tmp is complete before any rename starts' holds
            # for every swap of an existing index, but a crash DURING
            # the very first bootstrap write leaves a partial parquet
            # dir with no live index to shadow it — promoting that
            # would serve a torn index. Delete it instead; the
            # interrupted batch is uncommitted in the streaming
            # checkpoint and replays the bootstrap.
            if os.path.exists(os.path.join(tmp, "_SUCCESS")):
                os.replace(tmp, self.index_path)
            else:
                if os.path.exists(tmp):
                    shutil.rmtree(tmp)
                if os.path.exists(old):
                    os.replace(old, self.index_path)
        # live index present: stale leftovers are garbage from a crash
        # after the promote step — clear them so the next swap is clean
        for p in (tmp, old):
            if os.path.exists(self.index_path) and os.path.exists(p):
                shutil.rmtree(p)
        self._recover_model()

    def _recover_model(self) -> None:
        """Reconcile the persisted model with the live index's
        generation marker. A retrain writes the NEW model to
        ``model_base + '.next'`` BEFORE swapping the index (whose
        directory carries the model id it was built against), then
        promotes ``.next`` → live; a crash between those two steps
        leaves a live index pointing at a model the live slot doesn't
        hold yet — promote the matching ``.next`` forward. A marker
        that matches the live model means ``.next`` is stale garbage.
        Without a ``.next`` there is nothing to reconcile. A store left
        by the earlier frame-only lifecycle names its pending model
        ``ann_model.frame.next``: it is renamed to this lifecycle's
        ``.next`` first, so the same promote covers that crash."""
        import shutil

        marker = os.path.join(self.index_path, self._MODEL_MARKER)
        nxt = self.model_base + ".next"
        legacy = self.model_base + ".frame"
        if os.path.exists(os.path.join(legacy + ".next", "manifest.json")):
            drop_coarse_model(nxt)
            os.replace(legacy + ".next", nxt + ".frame")
        for p in (legacy + ".next", legacy + ".old"):
            shutil.rmtree(p, ignore_errors=True)
        if not os.path.exists(marker) or coarse_model_path(nxt) is None:
            return
        with open(marker, encoding="utf-8") as f:
            want = f.read().strip()
        live = coarse_model_path(self.model_base)
        if live is not None and (
            coarse_model_manifest(self.model_base).get("model_id") == want
        ):
            drop_coarse_model(nxt)
        elif coarse_model_manifest(nxt).get("model_id") == want:
            self._promote_next()
            # the in-memory model (if any) is the previous generation
            self.centroids = None

    def _promote_next(self) -> None:
        """Rename the ``.next`` model over the live one, either form:
        rename-aside, so no window leaves a half-moved live model."""
        old = self.model_base + ".old"
        drop_coarse_model(old)
        live = coarse_model_path(self.model_base)
        if live is not None:
            os.replace(live, old + os.path.splitext(live)[1])
        nxt = coarse_model_path(self.model_base + ".next")
        os.replace(nxt, self.model_base + os.path.splitext(nxt)[1])
        drop_coarse_model(old)

    @staticmethod
    def _last_state(batch_df: DataFrame) -> DataFrame:
        """Collapse a micro-batch to one row per vec_id: highest seq
        wins; at equal seq a tombstone beats an upsert (delete-wins tie
        rule — the conservative read for a dedup/index consumer); two
        UPSERTS at equal seq tie-break on an embedding hash — without
        that final key max_by picks arbitrarily between equal-seq rows
        with different embeddings, and a replayed micro-batch could
        pick the other one, breaking the replay-is-a-no-op contract the
        whole module rests on. The reduce is a map-side-combinable
        max_by, never a window sort."""
        cols = batch_df.columns
        if "deleted" not in cols:
            batch_df = batch_df.withColumn("deleted", F.lit(False))
        if "seq" not in cols:
            batch_df = batch_df.withColumn("seq", F.lit(0).cast("long"))
        batch_df = batch_df.withColumn(
            "deleted", F.coalesce(F.col("deleted"), F.lit(False))
        ).withColumn("seq", F.coalesce(F.col("seq"), F.lit(0).cast("long")))
        return (
            batch_df.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("deleted", "embedding"),
                    F.struct(
                        F.col("seq"),
                        F.col("deleted").cast("int"),
                        F.xxhash64(F.col("embedding")),
                    ),
                ).alias("s")
            )
            .select("vec_id", "s.deleted", "s.embedding")
        )

    def _swap(
        self,
        spark: SparkSession,
        new_index: DataFrame,
        model_id: str | None = None,
        recover: bool = True,
    ) -> None:
        import shutil

        if recover:
            self._recover_swap()
        tmp, old = self.index_path + ".tmp", self.index_path + ".old"
        # the tmp write materializes the new graph while the old files
        # are still intact (the plan reads them); then RENAME-ASIDE —
        # never rmtree the live index before its replacement is in
        # place (a crash in that window would leave NO index and the
        # next trigger would silently bootstrap from one batch; after a
        # retrain it would lose the whole serving index, and the
        # checkpoint won't replay committed batches to heal it).
        # Every window of this sequence is recoverable by index().
        new_index.write.mode("overwrite").partitionBy("cell").parquet(tmp)
        if model_id is not None:
            # stamp the model generation INTO the tmp dir before any
            # rename: the marker travels with the index atomically
            with open(
                os.path.join(tmp, self._MODEL_MARKER), "w", encoding="utf-8"
            ) as f:
                f.write(model_id)
        if os.path.exists(self.index_path):
            os.replace(self.index_path, old)
        os.replace(tmp, self.index_path)
        if os.path.exists(old):
            shutil.rmtree(old)
        spark.catalog.refreshByPath(self.index_path)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One trigger: collapse to last-state, split upserts from
        tombstones, delta-apply, and write ONLY the touched ``cell=``
        partitions (dynamic partition overwrite) — per-trigger I/O is
        O(touched cells), never a corpus rewrite. Touched cells the
        rebuild drained empty have their directories cleared (dynamic
        overwrite skips partitions with zero output rows). Crash
        recovery is batch replay: foreachBatch re-delivers an
        uncommitted batch, the replay recomputes the same touched set
        (stale rows of a half-cleaned cell re-enter it via their still-
        present ids) and rewrites/clears the same partitions — the
        delta's determinism makes the heal exact. Only the FIRST batch
        (no index on disk yet) writes the full layout via tmp+swap.
        With ``auto_retrain`` the drift policy runs after the write and
        a crossed bound retrains + rebuilds SYNCHRONOUSLY in the same
        trigger — bounded-corpus / test-harness use only: at warehouse
        scale that stalls the stream for the rebuild's duration. The
        serving posture is ``auto_retrain=False`` (the default) with a
        supervisor calling :meth:`retrain_and_swap` between triggers."""
        import shutil

        from ..operators.hnsw import apply_delta_ivf_parts

        spark = batch_df.sparkSession
        idx = self.index(spark)  # runs swap + model recovery first
        model = self._coarse_model(spark)
        last = self._last_state(batch_df).localCheckpoint()
        ups = last.filter(~F.col("deleted")).select("vec_id", "embedding")
        dels = last.filter(F.col("deleted")).select("vec_id")
        if not os.path.exists(self.index_path):
            self._swap(
                spark,
                apply_delta_ivf(
                    idx,
                    ups,
                    model,
                    m=self.m,
                    ef_construction=self.ef_construction,
                    max_shard_rows=self.max_shard_rows,
                    deletes=dels,
                ),
                model_id=coarse_model_manifest(self.model_base).get("model_id"),
            )
        else:
            rebuilt, touched, built = apply_delta_ivf_parts(
                idx,
                ups,
                model,
                m=self.m,
                ef_construction=self.ef_construction,
                max_shard_rows=self.max_shard_rows,
                deletes=dels,
            )
            if touched:
                # the non-drained (built) set is driver-known from the
                # delta's planning agg — the write runs the kernel
                # exactly once with no checkpoint pin and no
                # distinct-cells probe over the rebuilt rows
                (
                    rebuilt.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("cell")
                    .parquet(self.index_path)
                )
                for c in touched:
                    if c not in built:  # drained: no rows overwrote it
                        d = os.path.join(self.index_path, f"cell={c}")
                        if os.path.exists(d):
                            shutil.rmtree(d)
                spark.catalog.refreshByPath(self.index_path)
        if self.auto_retrain and self.drift(spark)[0]:
            self.retrain(spark)

    def drift(self, spark: SparkSession) -> tuple[bool, dict]:
        """The centroid-drift retrain policy over the live index —
        skew, drained cells, AND (with target_cell_rows set) mean
        occupancy outgrowing the target: the resize moment."""
        idx = self.index(spark)
        return ivf_needs_retrain(
            idx,
            engage_rows=self.engage_rows,
            max_skew=self.max_skew,
            trained_cells=self.n_cells_trained(spark),
            target_cell_rows=self.target_cell_rows,
        )

    def retrain(self, spark: SparkSession) -> None:
        """Retrain the coarse model on the CURRENT indexed vectors and
        rebuild — the reference's rebuild-from-scratch past its engage
        threshold (src/vec.rs:22-23) as a streaming-lifecycle policy.
        The index itself holds the surviving corpus, so no side channel
        to the ingest source is needed. With ``target_cell_rows`` set
        the retrain RE-SIZES the cell count from the live row count
        (auto_n_cells), so continuous ingest grows the CELL COUNT, not
        the cell size — the term that otherwise scales per-query and
        per-delta work with the corpus. The model form follows the new
        cell count (hnsw.train_coarse_model); a frame model is never
        collected.

        One crash-safe sequence for either form: write the model to
        ``model_base + '.next'``, build + swap the index stamped with
        the new model id, then promote ``.next`` → live. Before the
        index swap the old (index, model) pair is intact; between the
        swap and the promote, ``_recover_model`` promotes the matching
        ``.next`` forward.

        The rebuild input is the persisted parquet index READ DIRECTLY
        — never localCheckpointed: pinning the whole corpus in
        block-manager storage for the rebuild's duration is exactly the
        O(corpus) executor-memory term the tier exists to avoid. Safe
        because every read of the old files completes while they are
        still live: the trainer's sample and the count run up front,
        and ``_swap`` fully materializes the new graph into ``.tmp``
        before any rename touches the old directory."""
        import uuid

        from ..operators.hnsw import build_nsw_index_ivf, train_coarse_model

        # index() reconciles any earlier crash first, so the fresh
        # .next below cannot be mistaken for stale garbage (and _swap
        # skips its own recovery pass)
        emb = self.index(spark).select("vec_id", "embedding")
        if self.target_cell_rows is not None:
            n = emb.count()
            n_cells = auto_n_cells(
                n, self.target_cell_rows,
                min_cells=self.min_cells, max_cells=self.max_cells,
            )
        else:
            n, n_cells = None, self.n_cells_trained(spark)
        model_id = uuid.uuid4().hex
        model = save_coarse_model(
            train_coarse_model(emb, n_cells, n_hint=n),
            self.model_base + ".next",
            extra={"model_id": model_id},
        )
        new_index = build_nsw_index_ivf(
            emb,
            model,
            m=self.m,
            ef_construction=self.ef_construction,
            max_shard_rows=self.max_shard_rows,
            n_hint=n,
        )
        self._swap(spark, new_index, model_id=model_id, recover=False)
        self._promote_next()
        self.centroids = load_coarse_model(spark, self.model_base)

    def retrain_and_swap(self, spark: SparkSession, force: bool = False) -> dict:
        """Out-of-band retrain for a SUPERVISOR process — the serving
        posture at warehouse scale, where ``auto_retrain=True`` (a full
        rebuild synchronously INSIDE the foreachBatch trigger) would
        stall the stream for the rebuild's duration. Evaluates the
        drift policy and, when it trips (or ``force``), retrains +
        rebuilds + publishes via the same rename-aside swap the batch
        path recovers — crash-safe at every window, and atomic for
        readers (a search between triggers sees the old index or the
        new one, never a mix). Returns the policy stats
        (+ ``retrained``/``n_cells`` when a retrain ran).

        Sequencing contract: run it from the maintenance loop that
        owns this sink, BETWEEN triggers (foreachBatch serializes
        triggers, so a supervisor sharing the maintainer object — or
        scheduling through the same single-threaded loop — never
        interleaves a rebuild with a delta write). A delta committed
        between the rebuild's read and its swap would be silently
        dropped from the new index (the checkpoint will not replay a
        committed batch), which is why the entry point is explicit
        rather than concurrent-by-default."""
        needs, stats = self.drift(spark)
        if needs or force:
            self.retrain(spark)
            stats["retrained"] = True
            stats["n_cells"] = self.n_cells_trained(spark)
        return stats

    def run(self, cdc_stream: DataFrame) -> None:
        """Drive a bounded CDC stream to completion (test harness; a
        real deployment starts the query with a checkpointLocation and
        leaves it running — replays are no-ops by determinism)."""
        q = cdc_stream.writeStream.foreachBatch(self.apply_batch).start()
        q.processAllAvailable()
        q.stop()
