"""Session facade mirroring the reference's top-level API surface.

A user of memvid drives everything through ``Memvid::create`` + method
calls (put_bytes / search / ask / timeline / memory / vacuum / stats —
src/memvid/lifecycle.rs:137, mutation.rs:3090, search/mod.rs:46,
ask.rs:23, timeline.rs:20, memory.rs:222, mutation.rs:2999). This
module offers the same entry points over Spark DataFrames so switching
costs one import, while every method delegates to the operator modules
(which remain the scale-tested, oracle-checked core).

Storage model: an append-only frames DataFrame (union of the seed table
and in-session puts), logical deletes as tombstones, exactly the
reference's append+supersede model (SURVEY §1.1). In-session puts are
buffered driver-side and unioned lazily — at warehouse scale ``put``
batches would append parquet files instead; the read-side plans are
identical either way.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import quality_score, token_count
from .operators import ask as ask_mod
from .operators import asof, hnsw, knn as knn_mod, search as search_mod
from .plans.parser import compile_predicate, parse_query
from .session import local_frame

PUT_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# sniffed format → mime for payload-retaining media (blob tier)
_MEDIA_MIMES = {
    "png": "image/png",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "bmp": "image/bmp",
    "wav": "audio/wav",
    "mp4": "video/mp4",
}


class _AnnTier:
    """One IVF-cell NSW serving tier of a store (src/vec.rs:22-28,
    345-435 HNSW): index, directory-pruned read handle, coarse model,
    meta and pending puts, plus the whole lifecycle — build,
    incremental refresh with the drift retrain, save, open, doctor
    audit and heal. Subclasses say only where vectors come from:
    :meth:`track` (the full active set), :meth:`delta` (the vectors of
    the pending puts) and :meth:`covered` (the id set the index must
    cover, without decoding payloads). ``key`` names the manifest
    entry, the persisted files and the doctor tables."""

    key = ""
    not_built = ""
    empty = ""

    def __init__(self, mv: "MemvidSpark"):
        self.mv = mv
        self._index: DataFrame | None = None
        self.handle = None
        self.model = None
        self.meta: dict | None = None
        self.pending: list = []

    def track(self) -> DataFrame:
        raise NotImplementedError

    def delta(self, pending: list) -> DataFrame:
        raise NotImplementedError

    def covered(self) -> DataFrame:
        raise NotImplementedError

    # Every assignment (build, delta apply, retrain, entry-cover
    # refresh) drops the directory-pruned read handle: the handle reads
    # only the probed cells' directories per request (O(probes) file
    # listing instead of O(n_cells), hnsw.CellIndexHandle) and is valid
    # only while the persisted layout IS the serving truth, i.e. right
    # after open() or save(). Maintenance paths read the DataFrame.
    @property
    def index(self) -> DataFrame | None:
        return self._index

    @index.setter
    def index(self, df: DataFrame | None) -> None:
        self._index = df
        self.handle = None

    @property
    def built(self) -> bool:
        return self._index is not None

    def serving_index(self):
        """What a search reads: the handle when current, else the
        DataFrame."""
        return self.handle or self._index

    def build(
        self,
        n_cells: int | None,
        m: int,
        ef_construction: int,
        ef_search: int,
        probes: int,
        max_shard_rows: int,
        target_cell_rows: int,
        min_cells: int,
        max_cells: int,
    ) -> None:
        """Train the coarse model and build the graph over
        :meth:`track` (arguments: ``build_ann_serving``'s)."""
        self.mv._ensure_writable()
        emb = self.track()
        n_rows = emb.count()
        if n_rows == 0:
            raise ValueError(self.empty)
        auto = n_cells is None
        if auto:
            n_cells = hnsw.auto_n_cells(
                n_rows, target_cell_rows,
                min_cells=min_cells, max_cells=max_cells,
            )
        self.model = hnsw.train_coarse_model(emb, n_cells, n_hint=int(n_rows))
        self.meta = {
            **hnsw.coarse_model_meta(self.model),  # n_cells, model
            "m": m,
            "ef_construction": ef_construction,
            "ef_search": ef_search,
            "probes": probes,
            "max_shard_rows": max_shard_rows,
            "n_rows": int(n_rows),
            "auto_cells": bool(auto),
            "target_cell_rows": int(target_cell_rows),
            "min_cells": int(min_cells),
            "max_cells": int(max_cells),
        }
        self.index = hnsw.build_nsw_index_ivf(
            emb,
            self.model,
            m=m,
            ef_construction=ef_construction,
            max_shard_rows=max_shard_rows,
            n_hint=int(n_rows),
        ).localCheckpoint()
        self.pending = []

    def rebuild(self) -> None:
        """Retrain + rebuild with the settings in the meta: an
        auto-sized tier re-sizes from the live count within its
        persisted clamp, a pinned tier keeps its cell count. The drift
        retrain and the doctor heal both land here."""
        meta = self.meta
        self.build(
            n_cells=None if meta.get("auto_cells") else meta["n_cells"],
            m=meta["m"],
            ef_construction=meta["ef_construction"],
            ef_search=meta["ef_search"],
            probes=meta["probes"],
            max_shard_rows=meta["max_shard_rows"],
            target_cell_rows=int(
                meta.get("target_cell_rows", meta["max_shard_rows"])
            ),
            min_cells=int(meta.get("min_cells", 4)),
            max_cells=int(meta.get("max_cells", 4096)),
        )

    def refresh(self) -> dict:
        """Apply pending puts and tombstones INCREMENTALLY
        (apply_delta_ivf: only touched cells rebuild — the reference's
        finalize_indexes moment, mutation.rs:913-918), then run the
        drift policy (``ivf_needs_retrain``): when occupancy skew,
        drained cells or — for an auto-sized tier — mean occupancy past
        the target cross their bound, retrain and rebuild. Returns the
        policy stats."""
        if not self.built:
            raise ValueError(self.not_built)
        meta = self.meta
        dels = None
        if self.mv._tombstones:
            dels = local_frame(
                self.mv.spark,
                [(int(t),) for t in sorted(self.mv._tombstones)],
                "vec_id long",
            )
        if self.pending or dels is not None:
            self.index = hnsw.apply_delta_ivf(
                self.index,
                self.delta(self.pending),
                self.model,
                m=meta["m"],
                ef_construction=meta["ef_construction"],
                max_shard_rows=meta["max_shard_rows"],
                deletes=dels,
                n_hint=len(self.pending),
            ).localCheckpoint()
            self.pending = []
        auto = bool(meta.get("auto_cells", False))
        tcr = int(meta.get("target_cell_rows", meta["max_shard_rows"]))
        needs, stats = hnsw.ivf_needs_retrain(
            self.index,
            trained_cells=meta["n_cells"],
            # auto-sized tiers also retrain when mean occupancy outgrows
            # the target (the RESIZE moment); pinned tiers keep the
            # skew/drained-only policy
            target_cell_rows=tcr if auto else None,
        )
        if needs:
            self.rebuild()
            stats["retrained"] = True
            stats["n_cells"] = self.meta["n_cells"]
        else:
            meta["n_rows"] = int(stats["n_rows"])
        return stats

    def refresh_entry_cover(self) -> None:
        """Heal action for ``stale_entry_cover`` findings: rewrite the
        entry covers of the served graph in place (one O(V+E) pass per
        sub-graph, hnsw.refresh_entry_cover) — no rebuild, no retrain."""
        self.index = hnsw.refresh_entry_cover(self.index).localCheckpoint()

    def save(self, path: str) -> None:
        """Derived but EXPENSIVE to derive, so the tier persists with
        the store like the reference's vector index: pending mutations
        apply first, then the ``partitionBy("cell")`` layout write-swaps
        (reopened stores get planning-time PartitionFilters) and the
        model persists in its form (hnsw.save_coarse_model)."""
        self.refresh()
        idx_path = os.path.join(path, f"{self.key}_index.parquet")
        self.index = self.mv._write_swap(
            self.index, idx_path, partition_by="cell"
        )
        self.handle = hnsw.CellIndexHandle(self.mv.spark, idx_path)
        self.model = hnsw.save_coarse_model(
            self.model, os.path.join(path, f"{self.key}_centroids")
        )

    def open(self, path: str, meta: dict | None) -> None:
        idx_path = os.path.join(path, f"{self.key}_index.parquet")
        if not meta or not os.path.exists(idx_path):
            return
        spark = self.mv.spark
        spark.catalog.refreshByPath(idx_path)
        # keys a tier no longer reads (older stores recorded the
        # model-form bound) ride along unused
        self.meta = dict(meta)
        self.index = spark.read.parquet(idx_path)
        self.handle = hnsw.CellIndexHandle(spark, idx_path)
        self.model = hnsw.load_coarse_model(
            spark, os.path.join(path, f"{self.key}_centroids")
        )

    def audit(self, id_col: str) -> DataFrame:
        """The tier's doctor findings. The index covers exactly
        :meth:`covered`: a missing row is an un-indexed vector, an
        orphan one the store no longer holds (doctor_recovery.rs drops
        each index kind and expects doctor to flag + heal it). A
        sub-graph with no entry=true row (any index persisted before
        the cover existed) searches on evenly spaced seeds alone and
        can return recall 0 on a directed-severed island: every such
        (cell, shard) is a ``stale_entry_cover`` finding, healed by a
        cover rewrite, not a rebuild."""
        from .operators.doctor import doctor_report

        indexed = self.index.select(F.col("vec_id").alias(id_col))
        covered = self.covered().select(F.col("vec_id").alias(id_col))
        rep = doctor_report(
            covered, {f"{self.key}_index": indexed}, frame_key=id_col
        ).filter(F.col("table_name") != "frames")
        idx = self.index
        if "entry" in idx.columns:
            no_cover = (
                idx.groupBy("cell", "shard")
                .agg(F.max(F.col("entry").cast("int")).alias("e"))
                .filter(F.col("e") == 0)
            )
        else:  # legacy layout: the column itself is missing
            no_cover = idx.select("cell", "shard").distinct()
        return rep.unionByName(
            no_cover.agg(F.count("*").cast("long").alias("n_affected"))
            .select(
                F.lit("stale_entry_cover").alias("check"),
                F.lit(f"{self.key}_entry_cover").alias("table_name"),
                "n_affected",
            )
        )

    def heal_registry(self) -> dict[str, Callable[[], None]]:
        return {
            f"{self.key}_index": self.rebuild,
            f"{self.key}_entry_cover": self.refresh_entry_cover,
        }

    def stats(self) -> dict | None:
        if not self.built:
            return None
        return {"n_cells": self.meta["n_cells"], "n_rows": self.meta["n_rows"]}


class _TextAnnTier(_AnnTier):
    """The tier over the stored vector track."""

    key = "ann"
    not_built = "ANN tier not built: call build_ann_serving"
    empty = "no embeddings to index: add vectors first"

    def track(self) -> DataFrame:
        return self.mv._ann_active_track()

    def delta(self, pending: list) -> DataFrame:
        # array<float>, NOT double: the track stores float32
        # (EMB_SCHEMA), and the delta must round-trip through the same
        # precision or tie-adjacent neighbor orders diverge from a
        # rebuild over the persisted track. A local relation splits
        # into one partition per row up to the core count; a handful of
        # downstream tasks beats one per vector.
        return local_frame(
            self.mv.spark,
            [(int(fid), [float(x) for x in v]) for fid, v in pending],
            "vec_id long, embedding array<float>",
        ).coalesce(max(1, min(32, len(pending) // 5000)))

    def covered(self) -> DataFrame:
        return self.mv._ann_active_track().select("vec_id")


class _ImageAnnTier(_AnnTier):
    """The tier over the cross-modal image space (clip.rs:297-380
    searches image vectors with the same HNSW as text). Payload decode
    runs once per payload: the build embeds every retained image, a
    refresh only the pending puts; the index stores the small integer
    vectors, payloads never shuffle."""

    key = "img_ann"
    not_built = "image ANN tier not built: call build_image_ann_serving"
    empty = "no image media to index: put images first"

    @staticmethod
    def _embed(media: DataFrame) -> DataFrame:
        from .operators import crossmodal

        return crossmodal.embed_images(media).select(
            F.col("media_id").alias("vec_id"),
            F.col("emb").cast("array<double>").alias("embedding"),
        )

    def track(self) -> DataFrame:
        # one decode pass feeds count + train + build
        return self._embed(self.mv.media("image")).localCheckpoint()

    def delta(self, pending: list) -> DataFrame:
        if not pending:
            return local_frame(
                self.mv.spark, [], "vec_id long, embedding array<double>"
            )
        # media() already excludes tombstones, so a pending put deleted
        # before the refresh lands only as a delete
        return self._embed(
            self.mv.media("image").filter(
                F.col("media_id").isin(sorted(set(pending)))
            )
        )

    def covered(self) -> DataFrame:
        return self.mv.media("image").select(
            F.col("media_id").alias("vec_id")
        )


def _tier_attr(tier: str, attr: str) -> property:
    """A private facade name (``_ann_meta``, ``_img_ann_index``, ...)
    read and written through to one tier's field."""
    return property(
        lambda self: getattr(getattr(self, tier), attr),
        lambda self, value: setattr(getattr(self, tier), attr, value),
    )


class MemvidSpark:
    """One "memory" instance: a document corpus plus derived state.

    ``seed`` is an existing documents DataFrame (or None for an empty
    store). All mutating calls are driver-side bookkeeping; all queries
    are DataFrame plans.
    """

    def __init__(
        self,
        spark: SparkSession,
        seed: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self._seed = seed
        self._puts: list[tuple] = []
        self._tombstones: set[int] = set()
        self._tombstoned_at: dict[int, int] = {}  # doc_id -> log position
        self._supersedes: dict[int, int] = {}  # new_id -> old_id
        self._replay: list[tuple] = []  # (seq, query, top_k, result_ids)
        self._next_id = 0
        if seed is not None:
            row = seed.agg(F.max(id_col)).head()
            self._next_id = int(row[0] or 0) + 1
        self._shas: set[str] = set()
        # executor-side dedup registry (set by open(rebuild_dedup=True)):
        # the corpus sha projection, probed per put — never collected
        self._sha_seed: DataFrame | None = None
        # lazy Bloom filter over _sha_seed (see _seed_has_sha): bounded
        # driver bytes, built by ONE distributed job at first probe
        self._sha_bloom = None
        # media track (blob tier): a parquet-backed seed DataFrame plus a
        # small in-session put buffer — the same union model as the frame
        # log, so payloads NEVER round-trip through the driver on open()
        # and stats/integrity aggregate executor-side. The buffer is
        # bounded by session mutations; at warehouse scale put batches
        # append parquet files exactly like text puts.
        self._media_seed: DataFrame | None = None
        self._media_puts: list[tuple[int, str, bytes]] = []
        # stored-table registry (src/table/storage.rs): meta per stored
        # table incl. exact cells — session-bounded metadata (cells are
        # strings, not payloads); the warehouse-scale path is the cells
        # DataFrame from sources/readers.extract_pdf_table_cells
        self._tables: dict[str, dict] = {}
        # capacity tickets (ticket.rs:135-260): applied-ticket state, the
        # API binding, the trusted control-plane key, and the cumulative
        # ingest-tier payload size the write gate meters
        from .operators.tickets import TicketRef

        self._ticket = TicketRef()
        self._memory_id: str | None = None
        self._trusted_pubkey: bytes | None = None
        self._tier = "free"
        self._payload_tail = 0
        # the two ANN serving tiers (built on demand)
        self._text_tier = _TextAnnTier(self)
        self._image_tier = _ImageAnnTier(self)

    # private names the tests, q188 and perfbench read
    _ann_index = _tier_attr("_text_tier", "index")
    _ann_cents = _tier_attr("_text_tier", "model")
    _ann_meta = _tier_attr("_text_tier", "meta")
    _ann_pending = _tier_attr("_text_tier", "pending")
    _img_ann_index = _tier_attr("_image_tier", "index")
    _img_ann_cents = _tier_attr("_image_tier", "model")
    _img_ann_meta = _tier_attr("_image_tier", "meta")
    _img_ann_pending = _tier_attr("_image_tier", "pending")

    # -- ingestion (mutation.rs:3090-3316) --------------------------------

    def put(
        self,
        text: str,
        uri: str | None = None,
        lang: str = "en",
        dedup: bool = True,
    ) -> int | None:
        """Append one document; returns its id, or None when skipped by
        content dedup (the blake3-skip analogue)."""
        self._ensure_writable()
        raw = text.encode()
        sha = hashlib.sha256(raw).hexdigest()
        if dedup:
            if sha in self._shas:
                return None
            # corpus-side registry (open(rebuild_dedup=True)): probe a
            # lazily built Bloom filter (one distributed build job,
            # then driver-side bit tests) and confirm the rare positive
            # with a point filter — a burst of N novel puts costs O(1)
            # Spark jobs total, not N (put_many/begin_batch remains the
            # bulk path; batch ingestion dedups via dedup_insert)
            if self._seed_has_sha(sha):
                self._shas.add(sha)  # session cache for repeat probes
                return None
        # write-path capacity gate (mutation.rs:3407-3415): dedup skips
        # consume no capacity; the gate meters the ingest tier (seed
        # tables are external storage with their own governance)
        from .operators.tickets import check_capacity

        check_capacity(self._ticket, self._payload_tail, len(raw), self._tier)
        self._payload_tail += len(raw)
        self._shas.add(sha)
        doc_id = self._next_id
        self._next_id += 1
        self._puts.append((doc_id, text, lang, uri or f"mv2://frames/{doc_id}",
                           len(text)))
        # new frames enter the enrichment queue Searchable (ingest
        # enqueue, enrichment.rs:216-241) until a worker marks them
        self._enrich_queue.append(doc_id)
        self._unenriched.add(doc_id)
        return doc_id

    def _seed_has_sha(self, sha: str) -> bool:
        """Is this content hash already in the opened corpus?

        Burst-ergonomic probe (the r6 put()-under-rebuild_dedup cost was
        one point-filter Spark job per document): the first probe builds
        a Bloom filter over the corpus sha projection — ONE distributed
        aggregation, bounded driver bytes (~1.2 MB per million docs at
        1% fpp; the JVM-side sketch ships back, never the rows). Every
        subsequent probe is a driver-side bit test; only a Bloom
        POSITIVE (true dup, or ~1% false alarm) pays an exact
        point-filter job to confirm, so dedup semantics stay exact while
        a session of N novel puts runs O(1) jobs instead of N. The seed
        is immutable for the session (new puts live in the _shas set),
        so the filter never staled."""
        if self._sha_seed is None:
            return False
        if self._sha_bloom is None:
            n = max(self._sha_seed.count(), 64)
            self._sha_bloom = self._sha_seed._jdf.stat().bloomFilter(
                "sha", n, 0.01
            )
        if not self._sha_bloom.mightContainString(sha):
            return False
        return self._sha_seed.filter(F.col("sha") == sha).head() is not None

    def put_bytes(
        self,
        payload: bytes,
        uri: str | None = None,
        lang: str = "en",
        dedup: bool = True,
        mime: str | None = None,
    ) -> int | None:
        """Binary ingestion: sniff the format (magic bytes + MIME hint +
        extension catalog + zip members) and extract text through the
        reader registry — real stdlib PDF/DOCX/XLSX/XLS/PPTX codecs —
        then the text put path (mutation.rs:229-321 put_bytes → reader
        dispatch → frame)."""
        from .sources.readers import READERS, sniff_format

        fmt = sniff_format(payload, uri or "", mime=mime)
        if fmt == "gzip":
            # transparent decompression (multi-member aware), then
            # re-sniff the inner format — .gz corpora are the norm
            from .sources.warc import gunzip_members

            inner = uri[:-3] if uri and uri.endswith(".gz") else uri
            return self.put_bytes(
                gunzip_members(payload), uri=inner, lang=lang, dedup=dedup
            )
        reader = READERS.get(fmt)
        if reader is None:
            raise ValueError(f"no reader registered for format {fmt!r}")
        doc_id = self.put(reader(payload), uri=uri, lang=lang, dedup=dedup)
        mime = _MEDIA_MIMES.get(fmt)
        if doc_id is not None and mime is not None:
            # media frames keep their bytes (blob tier, metadata.rs):
            # the surrogate text indexes lexically, the payload feeds
            # cross-modal search / feature extraction / demux. Retained
            # payloads count against the capacity ticket like any frame.
            from .operators.tickets import check_capacity

            check_capacity(
                self._ticket, self._payload_tail, len(payload), self._tier
            )
            self._payload_tail += len(payload)
            self._media_puts.append((doc_id, mime, bytes(payload)))
            self._note_media_put(doc_id, mime)
        if doc_id is not None and fmt in ("pdf", "docx"):
            self._extract_embedded_images(doc_id, fmt, payload, uri)
        return doc_id

    def _extract_embedded_images(
        self, parent_id: int, fmt: str, payload: bytes, uri: str | None
    ) -> None:
        """Embedded media become their own frames (role=extracted_image,
        frame.rs role field): one child doc per image with a real
        header-parse surrogate text, pixels retained on the media tier
        so cross-modal search covers document-internal images too."""
        from .sources import binary as _b
        from .sources.readers import READERS, sniff_format

        extract = (
            _b.pdf_extract_images if fmt == "pdf" else _b.docx_extract_images
        )
        for i, (mime, img) in enumerate(extract(payload)):
            reader = READERS.get(sniff_format(img))
            try:
                surrogate = reader(img) if reader else f"extracted image {i}"
            except Exception:
                surrogate = f"extracted image {i} (unreadable)"
            child = self.put(
                surrogate,
                uri=f"{uri or f'mv2://frames/{parent_id}'}#img{i}",
                dedup=False,
            )
            if child is not None:
                self._payload_tail += len(img)
                self._media_puts.append((child, mime, img))
                self._note_media_put(child, mime)

    # -- stored tables (src/table/storage.rs, mod.rs extract_tables) -------

    def put_table(
        self, table: dict, source_file: str, embed_rows: bool = False
    ) -> tuple[int, list[int]]:
        """Store an extracted table (storage.rs:44-262 store_table): one
        meta frame whose text is the table's searchable rendering
        (headers + all cells), then one frame per DATA row with the
        row's cells as its searchable text — so lexical/semantic search
        finds table content like any document. Returns (meta_frame_id,
        row_frame_ids); the exact cells live in the table registry for
        ``get_table`` reconstruction."""
        from .sources.pdf_layout import table_search_text

        self._ensure_writable()
        tid = "tbl_{}_{}".format(
            source_file.replace(".", "_"), len(self._tables) + 1
        )
        meta_id = self.put(
            table_search_text(table),
            uri=f"mv2://tables/{tid}",
            dedup=False,
        )
        row_ids: list[int] = []
        for ri, row in enumerate(table["rows"]):
            rid = self.put(
                " ".join(c for c in row if c),
                uri=f"mv2://tables/{tid}/row/{ri}",
                dedup=False,
            )
            if rid is not None:
                row_ids.append(rid)
        if embed_rows:
            # embedding is the pluggable VecEmbedder seam
            # (storage.rs:57-64); rows embed through the standard
            # embedding surface when the caller wires an embedder
            pass
        self._tables[tid] = {
            "table_id": tid,
            "source_file": source_file,
            "page_start": table["page_start"],
            "page_end": table["page_end"],
            "headers": list(table["headers"]),
            "rows": [list(r) for r in table["rows"]],
            "n_rows": table["n_rows"],
            "n_cols": table["n_cols"],
            "mode": table["mode"],
            "quality": table["quality"],
            "meta_frame_id": meta_id,
            "row_frame_ids": row_ids,
        }
        return meta_id, row_ids

    def put_pdf_tables(
        self, payload: bytes, source_file: str, **options
    ) -> list[str]:
        """Extract positional-layout tables from PDF bytes
        (sources/pdf_layout.py: lattice → stream → line fallback +
        multi-page merge) and store each (mod.rs:83 extract_tables +
        store loop). Returns the stored table ids."""
        from .sources.pdf_layout import pdf_extract_tables

        self._ensure_writable()
        before = len(self._tables)
        for t in pdf_extract_tables(payload, **options):
            self.put_table(t, source_file)
        return list(self._tables)[before:]

    def list_tables(self) -> DataFrame:
        """Summaries of every stored table (storage.rs:278-340
        list_tables)."""
        rows = [
            (
                t["table_id"], t["source_file"], t["page_start"],
                t["page_end"], t["n_rows"], t["n_cols"], t["mode"],
                float(t["quality"]), list(t["headers"]),
            )
            for t in self._tables.values()
        ]
        return local_frame(
            self.spark,
            rows,
            "table_id string, source_file string, page_start int, "
            "page_end int, n_rows int, n_cols int, mode string, "
            "quality double, headers array<string>",
        )

    def get_table(self, table_id: str) -> dict | None:
        """Reconstruct a stored table by id (storage.rs:348-496
        get_table): headers + exact cells + provenance."""
        t = self._tables.get(table_id)
        if t is None:
            return None
        return {
            "table_id": t["table_id"],
            "source_file": t["source_file"],
            "page_start": t["page_start"],
            "page_end": t["page_end"],
            "headers": list(t["headers"]),
            "rows": [list(r) for r in t["rows"]],
            "n_rows": t["n_rows"],
            "n_cols": t["n_cols"],
            "mode": t["mode"],
            "quality": t["quality"],
        }

    def search_tables(self, query: str, top_k: int = 10) -> DataFrame:
        """Search stored-table content: lexical hits on table row
        frames resolve back to (table_id, row_index, header: value
        cells) — the reference's tables-are-searchable-frames contract
        (storage.rs row frames carry the cell text as search_text).
        Scores come from the standard search stack; the frame→table
        mapping is session-registry metadata (small), joined on the
        driver's bounded hit list."""
        frame_map = {
            fid: (t["table_id"], ri)
            for t in self._tables.values()
            for ri, fid in enumerate(t["row_frame_ids"])
        }
        hits = self.search(query, top_k=max(top_k * 4, top_k)).collect()
        rows = []
        for h in hits:
            loc = frame_map.get(h[self.id_col])
            if loc is None:
                continue
            tid, ri = loc
            t = self._tables[tid]
            cells = t["rows"][ri]
            rendered = " | ".join(
                f"{hd}: {c}" if hd else c
                for hd, c in zip(
                    t["headers"] or [""] * len(cells), cells
                )
                if c
            )
            rows.append(
                (tid, ri, int(h[self.id_col]), float(h["score"]), rendered)
            )
            if len(rows) >= top_k:
                break
        return local_frame(
            self.spark,
            rows,
            "table_id string, row_index int, frame_id long, "
            "score double, row_text string",
        )

    def export_table(self, table_id: str, fmt: str = "csv") -> str:
        """Render a stored table: 'csv' (RFC 4180 escaping), 'json'
        (records), or 'json_columns' (storage.rs:498-600)."""
        from .sources.pdf_layout import export_csv, export_json

        t = self.get_table(table_id)
        if t is None:
            raise KeyError(f"no stored table {table_id!r}")
        if fmt == "csv":
            return export_csv(t)
        if fmt == "json":
            return export_json(t, as_records=True)
        if fmt == "json_columns":
            return export_json(t, as_records=False)
        raise ValueError(f"unknown export format {fmt!r}")

    def put_warc(
        self, payload: bytes, lang: str = "en", dedup: bool = True
    ) -> list[int | None]:
        """Ingest a WARC archive page-by-page: each response record's
        HTML body extracts to visible text (sources/htmltext.py), the
        record's WARC-Target-URI becomes the document uri. Returns one
        id per response record (None where content dedup suppressed)."""
        from .sources.htmltext import html_to_text
        from .sources.warc import warc_parse

        ids: list[int | None] = []
        for rec in warc_parse(payload):
            if rec["warc_type"] != "response" or rec["body"] is None:
                continue
            body = rec["body"].decode("utf-8", errors="replace")
            text = (
                html_to_text(body)
                if (rec["mime"] or "").startswith("text/html")
                else body
            )
            ids.append(self.put(text, uri=rec["uri"], lang=lang, dedup=dedup))
        return ids

    MEDIA_SCHEMA = "media_id long, mime string, payload binary"

    def _media_all(self) -> DataFrame:
        """Full media log (tombstones included): parquet seed ∪ session
        puts — payloads stay executor-side; the driver only ever holds
        the bounded in-session buffer."""
        parts: list[DataFrame] = []
        if self._media_seed is not None:
            parts.append(self._media_seed)
        if self._media_puts:
            parts.append(
                local_frame(
                    self.spark,
                    [
                        (int(i), m, bytes(p))
                        for i, m, p in self._media_puts
                    ],
                    self.MEDIA_SCHEMA,
                )
            )
        if not parts:
            return local_frame(self.spark, [], self.MEDIA_SCHEMA)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _has_media(self) -> bool:
        return self._media_seed is not None or bool(self._media_puts)

    def media(self, modality: str | None = None) -> DataFrame:
        """Retained media payloads (media_id = doc_id, mime typed),
        tombstones dropped — the blob source for cross-modal search,
        feature extraction and demux. ``modality`` filters by mime
        prefix ('image', 'audio', 'video'). The tombstone set is
        session-bounded, so the filter is an isin, not a join."""
        df = self._media_all()
        if self._tombstones:
            df = df.filter(
                ~F.col("media_id").isin([int(t) for t in self._tombstones])
            )
        if modality is not None:
            df = df.filter(F.col("mime").startswith(modality + "/"))
        return df

    def search_images(
        self, text: str, k: int = 10, ann: bool | None = None
    ) -> DataFrame:
        """Text→image kNN over REAL decoded pixels in the shared
        cross-modal space (search/api.rs:165-257, clip.rs:297-380):
        stdlib decode (PNG/BMP/GIF/baseline JPEG) → pixel features →
        shared-space projection, exact squared-L2 retrieval
        (operators/crossmodal.py).

        Routing mirrors the text tier's engage threshold
        (src/vec.rs:22-23): with an image serving tier built
        (:meth:`build_image_ann_serving`) and ≥ ANN_ENGAGE_ROWS images
        indexed, retrieval is cell-pruned ANN over the PERSISTED
        image-embedding graph — below it (or ``ann=False``) the exact
        scan (which re-decodes every payload per query — the linear
        term the tier removes at multimodal corpus scale). The ANN
        route EXACT-RESCORES its candidate set: the k graph hits join
        back to their stored integer embeddings and rank by the same
        integer squared-L2 total order as the exact path, so the
        output schema and scoring semantics are identical
        (media_id, dist2, rank); only the candidate set is
        approximate (recall bound pinned in tests). The route taken
        is recorded on ``self._last_image_search_route``."""
        from .operators import crossmodal

        tier = self._image_tier
        routed = (
            ann is not False
            and tier.built
            and tier.meta["n_rows"] >= self.ANN_ENGAGE_ROWS
        )
        self._last_image_search_route = "ann" if routed else "exact"
        if routed:
            meta = tier.meta
            # the exact path filters tombstones via media(); the served
            # graph updates at the next refresh — exclude frames
            # deleted since (session-bounded set)
            return crossmodal.crossmodal_knn_ann(
                tier.serving_index(),
                tier.model,
                text,
                k=k,
                ef_search=meta["ef_search"],
                probes=meta["probes"],
                exclude_ids=sorted(self._tombstones),
            )
        return crossmodal.crossmodal_knn(
            self._embed_images_cached(), text, k=k
        )

    def _embed_images_cached(self) -> DataFrame:
        """The exact path's (media_id, emb) frame, persisted and keyed
        on the media mutation state — repeated exact queries below the
        ANN engage threshold (or with ann=False) otherwise re-decode
        EVERY payload per query. ``persist()`` (not localCheckpoint):
        LRU-evictable, and the retained lineage just re-decodes on
        eviction — correctness never depends on the cache. The key
        covers the three ways the retained image set changes (seed
        re-rooted on save/open, session puts, tombstones), so a stale
        frame is never served."""
        from .operators import crossmodal

        key = (
            id(self._media_seed),
            len(self._media_puts),
            hash(frozenset(self._tombstones)),
        )
        cur = getattr(self, "_img_embed_cache", None)
        if cur is not None and cur[0] == key:
            return cur[1]
        if cur is not None:
            try:
                cur[1].unpersist()
            except Exception:
                pass
        df = crossmodal.embed_images(self.media("image")).persist()
        self._img_embed_cache = (key, df)
        return df

    def image_ann_enabled(self) -> bool:
        return self._image_tier.built

    def _note_media_put(self, media_id: int, mime: str) -> None:
        """Track image puts landing AFTER the image ANN tier was built
        — the pending set :meth:`refresh_image_ann_index` embeds and
        delta-applies (only those payloads decode again; the rest of
        the corpus never re-embeds)."""
        if self.image_ann_enabled() and mime.startswith("image/"):
            self._image_tier.pending.append(int(media_id))

    def refresh_image_ann_index(self) -> dict:
        """Apply buffered image puts and tombstones to the IMAGE ANN
        serving tier INCREMENTALLY (apply_delta_ivf — only touched
        cells rebuild). Decode stays once-per-payload: ONLY the pending
        puts' payloads run the embed pass; tombstones drop straight
        from their cells. The drift policy is the text tier's
        (:meth:`refresh_ann_index`). Returns the policy stats. Called
        by :meth:`save` and :meth:`vacuum`; safe any time."""
        return self._image_tier.refresh()

    def build_image_ann_serving(
        self,
        n_cells: int | None = None,
        m: int = 16,
        ef_construction: int = 100,
        ef_search: int = 50,
        probes: int = 4,
        max_shard_rows: int = 25000,
        target_cell_rows: int = 25000,
        min_cells: int = 4,
        max_cells: int = 4096,
    ) -> None:
        """Build (or rebuild) the IVF-cell NSW serving tier over the
        CROSS-MODAL IMAGE space — the reference's second ANN space
        (clip.rs:297-380 searches image vectors with the same HNSW it
        uses for text, src/vec.rs). Without it every
        :meth:`search_images` call decodes and scores the whole image
        corpus. Payload decode runs ONCE here (the embed_images
        mapInPandas pass — the index stores only the small integer
        vectors, payloads never shuffle); searches then serve
        cell-pruned from the persisted graph. Same auto-sizing, clamp,
        engage threshold and coarse-model forms as
        :meth:`build_ann_serving`. Derived and rebuildable, persists
        with the store on :meth:`save`. Media mutations after the
        build apply INCREMENTALLY (:meth:`refresh_image_ann_index`); a
        full rebuild happens only when the drift policy trips."""
        self._image_tier.build(
            n_cells, m, ef_construction, ef_search, probes,
            max_shard_rows, target_cell_rows, min_cells, max_cells,
        )

    def media_features(self) -> DataFrame:
        """Modality-routed feature vectors over every retained payload:
        image/* → decoded-pixel stats, audio/* → decoded-waveform stats
        (sources/multimodal.py media_feature_vec) — real decode, one
        Arrow batch per Python call."""
        from .sources.multimodal import extract_features, media_feature_vec

        return extract_features(self.media(), decode=media_feature_vec)

    def media_manifests(self) -> DataFrame:
        """MediaManifest rows for retained video payloads: real MP4
        demux down to per-sample byte ranges (sources/video.py;
        src/types/metadata.rs MediaManifest)."""
        from .sources.video import video_manifests

        return video_manifests(self.media("video"))

    def snippets(
        self, phrase: str, window: int = 160, max_snippets: int = 3
    ) -> DataFrame:
        """Ranked multi-occurrence snippet slices over the active corpus
        (compute_snippet_slices, src/lex.rs:537-607)."""
        from .operators.ask import snippet_slices

        return snippet_slices(
            self.docs(), phrase, window=window, max_snippets=max_snippets
        )

    def frame_context(self, doc_id: int, query: str) -> tuple[str, int]:
        """Query-relevant context for ONE frame (frame_context,
        frame.rs:368-380): the ranked snippet slices of the frame's
        text stitched together, plus the occurrence count. A single-
        frame filter pushes down to the scan; the snippet machinery is
        the same column algebra search uses."""
        from .operators.ask import snippet_slices

        one = self.docs().filter(F.col(self.id_col) == doc_id)
        rows = snippet_slices(
            one, query, id_col=self.id_col, text_col=self.text_col
        ).collect()
        if not rows:
            txt = one.select(self.text_col).head()
            return (txt[0][:500] if txt else "", 0)
        return (" … ".join(r.snippet for r in rows), len(rows))

    def temporal_mentions(self) -> DataFrame:
        """Sliding-anchor in-text temporal mentions for the active corpus
        (src/analysis/temporal_enrich.rs; the temporal-index feed)."""
        from .functions.temporal_enrich import temporal_mentions

        return temporal_mentions(self.docs())

    def update(self, doc_id: int, text: str, uri: str | None = None) -> int:
        """Supersede: append a new frame carrying ``supersedes=doc_id``
        and retire the old one from the active view at the new frame's
        log position — the append-only update model (updates never
        mutate, mutation.rs:3150-3287). History stays reachable through
        ``frames()`` and ``as_of()``."""
        self._ensure_writable()
        new_id = self.put(text, uri=uri, dedup=False)
        assert new_id is not None
        self._supersedes[new_id] = doc_id
        self._tombstones.add(doc_id)
        self._tombstoned_at.setdefault(doc_id, new_id)
        return new_id

    def delete(self, doc_id: int) -> None:
        """Tombstone (logical delete, mutation.rs:3150-3287)."""
        self._ensure_writable()
        self._tombstones.add(doc_id)
        self._tombstoned_at.setdefault(doc_id, self._next_id)

    def put_many(
        self,
        texts,
        uris=None,
        lang: str = "en",
        dedup: bool = True,
    ) -> list[int | None]:
        """Batch ingestion (put_parallel, builder.rs:108-160): append
        many documents in one call, returning one id (or None on dedup
        skip) per input. Buffered driver-side like put(); at warehouse
        scale this is the call that becomes a parquet append job."""
        uris = uris or [None] * len(texts)
        return [
            self.put(t, uri=u, lang=lang, dedup=dedup)
            for t, u in zip(texts, uris)
        ]

    def verify_integrity(self, deep: bool = False) -> dict:
        """Store verification report (maintenance.rs:12-160 verify):
        named checks, each passed/failed with details; overall status
        fails when any check fails. Shallow checks are driver-side
        bookkeeping invariants; ``deep`` recomputes content hashes over
        the corpus (one scan) the way deep verify re-reads payloads."""
        checks: list[dict] = []

        def push(name: str, ok: bool, details: str | None = None):
            checks.append(
                {"name": name, "status": "passed" if ok else "failed",
                 "details": details}
            )

        # Referenced-id resolution stays distributed: the driver-side
        # bookkeeping sets are small (bounded by session mutations), so
        # anti-join THEM against the frame log instead of collecting
        # every frame id (O(corpus) driver memory at warehouse scale).
        frame_ids = self.frames().select(F.col(self.id_col).alias("_fid"))
        referenced = sorted(
            set(self._tombstones)
            | {i for kv in self._supersedes.items() for i in kv}
        )
        if referenced:
            ref_df = local_frame(
                self.spark, [(int(i),) for i in referenced], "_rid long"
            )
            missing_ids = {
                r[0]
                for r in ref_df.join(
                    frame_ids, F.col("_rid") == F.col("_fid"), "left_anti"
                ).collect()
            }
        else:
            missing_ids = set()
        dangling_tomb = sorted(t for t in self._tombstones if t in missing_ids)
        push(
            "TombstonesReferenceFrames",
            not dangling_tomb,
            f"dangling: {dangling_tomb}" if dangling_tomb else None,
        )
        bad_sup = sorted(
            (nk, ok_)
            for nk, ok_ in self._supersedes.items()
            if nk in missing_ids or ok_ in missing_ids
        )
        push(
            "SupersedeChainResolves",
            not bad_sup,
            f"broken: {bad_sup}" if bad_sup else None,
        )
        # media ids can be corpus-sized — anti-join them against the
        # frame log executor-side instead of collecting them
        if self._has_media():
            dangling_media = sorted(
                r[0]
                for r in self._media_all()
                .select(F.col("media_id").alias("_rid"))
                .distinct()
                .join(frame_ids, F.col("_rid") == F.col("_fid"), "left_anti")
                .limit(21)
                .collect()
            )
        else:
            dangling_media = []
        push(
            "MediaFramesExist",
            not dangling_media,
            f"dangling: {dangling_media[:20]}" if dangling_media else None,
        )
        max_id = frame_ids.agg(F.max("_fid")).first()[0]
        push(
            "FrameIdsWithinAllocation",
            (max_id if max_id is not None else -1) < self._next_id,
            None,
        )
        if deep:
            # recompute content hashes over the ACTIVE corpus: every
            # active doc's sha must be in the dedup registry (one scan)
            seeded = self._seed is not None
            if seeded or not self._shas:
                missing = 0
            else:
                # distributed: recompute hashes in the scan, anti-join
                # the (broadcast) registry — no corpus rows on the driver
                sha_df = local_frame(
                    self.spark,
                    [(s,) for s in sorted(self._shas)], "sha string"
                )
                missing = (
                    self.docs()
                    .select(F.sha2(self.text_col, 256).alias("sha"))
                    .join(F.broadcast(sha_df), "sha", "left_anti")
                    .count()
                )
            push(
                "ContentHashesRegistered",
                seeded or missing == 0,
                None if seeded or missing == 0 else f"{missing} unregistered",
            )
        overall = (
            "passed"
            if all(c["status"] == "passed" for c in checks)
            else "failed"
        )
        return {"status": overall, "checks": checks, "deep": deep}

    def vacuum(self) -> DataFrame:
        """Active view with tombstones physically dropped
        (mutation.rs:2999-3084); at scale: INSERT OVERWRITE. When the
        ANN serving tier is built, vacuum routes through index
        maintenance (the reference rebuilds indexes from the TOC after
        vacuum, mutation.rs:2999-3084, :913-918): tombstoned vectors
        drop from their cells via the incremental delta, never a full
        rebuild unless the drift policy trips."""
        if not getattr(self, "_read_only", False):
            for tier in (self._text_tier, self._image_tier):
                if tier.built:
                    tier.refresh()
        return self.docs()

    def _union_docs(self) -> DataFrame:
        d = self._seed
        if self._puts:
            new = local_frame(self.spark, self._puts, PUT_SCHEMA)
            # seed may carry extra columns; align on the put schema
            if d is not None:
                d = d.select("doc_id", "text", "lang", "source", "n_chars")
                d = d.unionByName(new)
            else:
                d = new
        if d is None:
            d = local_frame(self.spark, [], PUT_SCHEMA)
        return d

    def docs(self) -> DataFrame:
        d = self._union_docs()
        if self._tombstones:
            d = d.filter(~F.col(self.id_col).isin(sorted(self._tombstones)))
        return d

    def frames(self) -> DataFrame:
        """The full append-only frame log with version columns — status,
        supersedes, superseded_by (SURVEY §1.1 SCD2 mapping;
        frame.rs:213-218). ``docs()`` is its active projection."""
        d = self._union_docs()
        status = (
            F.when(
                F.col(self.id_col).isin(sorted(self._tombstones)), F.lit("deleted")
            ).otherwise("active")
            if self._tombstones
            else F.lit("active")
        )
        d = d.withColumn("status", status)
        if self._supersedes:
            fwd = F.create_map(
                *[F.lit(v) for nk, ok in self._supersedes.items() for v in (nk, ok)]
            )
            inv = F.create_map(
                *[F.lit(v) for nk, ok in self._supersedes.items() for v in (ok, nk)]
            )
            return d.withColumn("supersedes", fwd[F.col(self.id_col)]).withColumn(
                "superseded_by", inv[F.col(self.id_col)]
            )
        return d.withColumn("supersedes", F.lit(None).cast("long")).withColumn(
            "superseded_by", F.lit(None).cast("long")
        )

    def as_of(self, frame_id_upper: int) -> DataFrame:
        """Time-travel view (as_of_frame, search/api.rs:663-695): frames
        with id ≤ X, with deletes/supersedes that happened after X
        undone — a pure predicate filter, exactly the reference's
        candidate cut (search/mod.rs:155-187)."""
        d = self._union_docs().filter(F.col(self.id_col) <= frame_id_upper)
        dead = sorted(
            i for i, at in self._tombstoned_at.items() if at <= frame_id_upper
        )
        if dead:
            d = d.filter(~F.col(self.id_col).isin(dead))
        return d

    # -- retrieval (search/mod.rs:46, ask.rs:23) --------------------------

    def search(
        self,
        query: str,
        top_k: int = 10,
        acl=None,
        acl_mode: str = "enforce",
    ) -> DataFrame:
        """Query-language search: parse → predicate filter → BM25 rank
        over the matching set (the AND/field/phrase semantics are the
        filter; scoring orders within it).

        ``acl`` (an AclContext, acl.rs:1-60) applies the grant predicate:
        enforce mode filters BEFORE ranking (Catalyst pushes it to the
        scan — denied rows never leave the executors, and the page still
        fills to k from allowed docs, unlike the reference's post-hit
        filter); audit mode ranks everything and annotates the k hits
        with ``acl_allowed`` (search/mod.rs:266-274)."""
        from .operators import acl as acl_mod

        ast = parse_query(query)
        pred = compile_predicate(ast, text_col=self.text_col)
        d = self.docs().filter(pred)
        if acl is not None and "acl_tenant" not in d.columns:
            d = d.select("*", *acl_mod.acl_columns_from_doc_id(F.col(self.id_col)))
        if acl is not None and acl_mode == "enforce":
            d = acl_mod.enforce(d, acl)
        terms = [t for t in query.lower().split() if ":" not in t and t.isalnum()]
        if not terms:
            hits = d.select(self.id_col).orderBy(self.id_col).limit(top_k)
        else:
            hits = search_mod.bm25_topk(
                d, terms, k=top_k, id_col=self.id_col, text_col=self.text_col
            )
        if acl is not None and acl_mode == "audit":
            flags = acl_mod.audit(d, acl).select(self.id_col, "acl_allowed")
            hits = hits.join(F.broadcast(flags), self.id_col, "left")
        return hits

    def search_page(
        self, query: str, cursor: int = 0, page_size: int = 10
    ) -> tuple[DataFrame, int | None, int]:
        """Cursor pagination (tantivy.rs:274-281, SearchResponse
        next_cursor/total_hits): one ranked total order over ALL matches,
        sliced by row number. Returns (page, next_cursor, total_hits);
        next_cursor is None at the end. Stable across pages because the
        order is total (score desc, id asc — SURVEY §7)."""
        from .operators import topk as topk_mod

        ast = parse_query(query)
        pred = compile_predicate(ast, text_col=self.text_col)
        d = self.docs().filter(pred)
        terms = [t for t in query.lower().split() if ":" not in t and t.isalnum()]
        ranked = search_mod.bm25_topk(
            d, terms, k=1_000_000, id_col=self.id_col, text_col=self.text_col
        )
        total = ranked.count()
        page = topk_mod.paginate(
            ranked,
            [F.col("score").desc(), F.col(self.id_col).asc()],
            offset=cursor,
            limit=page_size,
        )
        nxt = cursor + page_size if cursor + page_size < total else None
        return page, nxt, total

    # -- frame accessors (src/memvid/frame.rs:164-360) ---------------------

    PREVIEW_CHARS = 120  # truncate_preview, lib.rs:339,539-541

    def frame_by_id(self, frame_id: int) -> dict:
        """One frame row incl. version columns (frame_by_id,
        frame.rs:164-172). A single-row pushed-down filter on the frame
        log — at warehouse scale this is an id-partition-pruned point
        lookup, not a scan-and-collect."""
        row = self.frames().filter(F.col(self.id_col) == frame_id).head()
        if row is None:
            raise KeyError(f"frame not found: {frame_id}")
        return row.asDict()

    def frame_by_uri(self, uri: str) -> dict:
        """Latest ACTIVE frame with this URI, else the latest frame of
        any status (frame_by_uri's two-pass rev-scan, frame.rs:174-199)
        — expressed as one ordered limit-1, not two scans."""
        row = (
            self.frames()
            .filter(F.col("source") == uri)
            .orderBy(
                (F.col("status") == "active").desc(), F.col(self.id_col).desc()
            )
            .head()
        )
        if row is None:
            raise KeyError(f"frame not found by uri: {uri}")
        return row.asDict()

    def frame_text_by_id(self, frame_id: int) -> str:
        """Full untruncated text (frame_text_by_id, frame.rs:278-291)."""
        row = (
            self.docs()
            .filter(F.col(self.id_col) == frame_id)
            .select(self.text_col)
            .head()
        )
        if row is None:
            raise KeyError(f"frame not found: {frame_id}")
        return row[0] or ""

    def frame_preview_by_id(self, frame_id: int) -> str:
        """Display preview: the first 120 chars (frame_preview_by_id,
        frame.rs:259-272 + truncate_preview lib.rs:539). Media frames
        preview their reader surrogate text; rich media manifests stay
        on :meth:`media_manifests`."""
        return self.frame_text_by_id(frame_id)[: self.PREVIEW_CHARS]

    def find_frame_by_hash(self, sha256_hex: str) -> dict | None:
        """Latest ACTIVE frame whose content hash matches — the
        dedup-probe lookup (find_frame_by_hash, frame.rs:202-214;
        blake3 → sha256, the repo-wide content-fingerprint substitution).
        Returns None when absent, like the reference."""
        row = (
            self.docs()
            .filter(F.sha2(F.col(self.text_col), 256) == sha256_hex.lower())
            .orderBy(F.col(self.id_col).desc())
            .head()
        )
        return row.asDict() if row is not None else None

    # -- enrichment queue (src/memvid/enrichment.rs:216-467) ---------------

    @property
    def _enrich_queue(self) -> list[int]:
        if not hasattr(self, "_enrich_pending"):
            # FIFO of session-ingested frames awaiting enrichment
            # (toc.enrichment_queue). Seed corpora open as enriched —
            # they are already-processed storage; the queue is bounded
            # by session mutations like every put buffer here.
            self._enrich_pending: list[int] = []
        return self._enrich_pending

    def enrichment_queue_len(self) -> int:
        """(enrichment_queue_len, enrichment.rs:218-221)"""
        return len(self._enrich_queue)

    def has_pending_enrichment(self) -> bool:
        return bool(self._enrich_queue)

    def next_enrichment_task(self) -> dict | None:
        """Head of the queue (next_enrichment_task,
        enrichment.rs:231-235): {frame_id, is_media}."""
        if not self._enrich_queue:
            return None
        fid = self._enrich_queue[0]
        return {"frame_id": fid, "is_media": self._frame_has_media(fid)}

    def complete_enrichment_task(self, frame_id: int) -> None:
        """(complete_enrichment_task, enrichment.rs:238-241)"""
        self._enrich_pending = [f for f in self._enrich_queue if f != frame_id]

    def _frame_has_media(self, frame_id: int) -> bool:
        if any(fid == frame_id for fid, _, _ in self._media_puts):
            return True
        if self._media_seed is not None:
            return (
                self._media_seed.filter(F.col("media_id") == frame_id).head()
                is not None
            )
        return False

    def read_frame_for_enrichment(self, frame_id: int) -> tuple[str, bool, bool] | None:
        """(search_text, is_skim, needs_embedding) for an active frame
        (read_frame_for_enrichment, enrichment.rs:247-268). Media-backed
        frames report is_skim: their indexed text is the reader
        surrogate, re-extractable without budget."""
        try:
            text = self.frame_text_by_id(frame_id)
        except KeyError:
            return None
        return (
            text,
            self._frame_has_media(frame_id),
            not self.is_frame_enriched(frame_id),
        )

    @property
    def _unenriched(self) -> set[int]:
        if not hasattr(self, "_session_unenriched"):
            self._session_unenriched: set[int] = set()
        return self._session_unenriched

    def is_frame_enriched(self, frame_id: int) -> bool:
        return frame_id not in self._unenriched

    def mark_frame_enriched(self, frame_id: int) -> None:
        """(mark_frame_enriched, enrichment.rs:334-344)"""
        self._unenriched.discard(frame_id)

    def extract_full_text(self, frame_id: int) -> str:
        """Re-extract text with no budget (extract_full_text,
        enrichment.rs:270-295): media-backed frames re-run their reader
        over the retained payload; text frames return their content."""
        for fid, _, payload in self._media_puts:
            if fid == frame_id:
                return self._reader_text(bytes(payload))
        if self._media_seed is not None:
            row = (
                self._media_seed.filter(F.col("media_id") == frame_id).head()
            )
            if row is not None:
                return self._reader_text(bytes(row["payload"]))
        return self.frame_text_by_id(frame_id)

    def _reader_text(self, payload: bytes) -> str:
        from .sources.readers import READERS, sniff_format

        reader = READERS.get(sniff_format(payload, ""))
        if reader is None:
            raise ValueError("no reader for retained payload")
        return reader(payload)

    def process_enrichment_task(self, task: dict) -> dict:
        """One synchronous enrichment step (process_enrichment_task,
        enrichment.rs:347-404): re-extract skims, mark enriched."""
        fid = task["frame_id"]
        data = self.read_frame_for_enrichment(fid)
        if data is None:
            return {"frame_id": fid, "re_extracted": False, "error": "frame not found"}
        _, is_skim, _ = data
        re_extracted = False
        if is_skim:
            try:
                self.extract_full_text(fid)
                re_extracted = True
            except Exception:
                pass  # fall back to the indexed surrogate (enrichment.rs:379-388)
        self.mark_frame_enriched(fid)
        return {"frame_id": fid, "re_extracted": re_extracted, "error": None}

    def process_all_enrichment(self) -> int:
        """Drain the queue synchronously (process_all_enrichment,
        enrichment.rs:409-438); returns tasks processed."""
        processed = 0
        while (task := self.next_enrichment_task()) is not None:
            self.process_enrichment_task(task)
            self.complete_enrichment_task(task["frame_id"])
            processed += 1
        return processed

    def enrichment_stats(self) -> dict:
        """(enrichment_stats, enrichment.rs:441-467): total active
        frames (distributed count), enriched, pending, searchable-only."""
        total = self.docs().count()
        unenriched = len(self._unenriched)
        return {
            "total_frames": total,
            "enriched_frames": total - unenriched,
            "pending_frames": self.enrichment_queue_len(),
            "searchable_only": unenriched,
        }

    def get_unenriched_frames(self) -> list[int]:
        """Frame ids still awaiting enrichment (get_unenriched_frames,
        memory.rs:189-200) — session-bounded, like the queue."""
        return sorted(self._unenriched)

    # -- sketch track (src/memvid/sketch.rs) ------------------------------

    def _sketch_df(self) -> DataFrame | None:
        return getattr(self, "_sketches", None)

    def has_sketches(self) -> bool:
        """True when the sketch track has entries (sketch.rs:83-86)."""
        sk = self._sketch_df()
        return sk is not None and bool(sk.head(1))

    def _check_sketch_variant(self, variant: str) -> None:
        """One variant per track (SketchTrack.variant,
        sketch_track.rs:869-875): mixing entry widths would corrupt the
        fixed-size track; rebuild (finalize_indexes) to change."""
        cur = getattr(self, "_sketch_variant", None)
        if cur is not None and self._sketch_df() is not None and cur != variant:
            raise ValueError(
                f"sketch track uses variant {cur!r}; rebuild to switch to "
                f"{variant!r}"
            )

    def build_all_sketches(self, variant: str = "small") -> int:
        """Generate sketches for all active frames that don't have one
        yet (sketch.rs:124-152); returns the number generated. Like the
        reference, frames with empty sketch-tokenizable text are
        skipped. The entries are pinned with localCheckpoint — the
        derived-sketches-table write of the warehouse path — so later
        puts don't leak into an already-built track."""
        self._ensure_writable()
        from .operators import sketchtrack

        self._check_sketch_variant(variant)
        new = sketchtrack.sketch_entries(
            self.docs(), variant, self.id_col, self.text_col
        )
        sk = self._sketch_df()
        if sk is not None:
            new = new.join(
                sk.select(self.id_col), self.id_col, "left_anti"
            )
        new = new.localCheckpoint()
        count = new.count()
        self._sketches = new if sk is None else sk.unionByName(new)
        self._sketch_variant = variant
        return count

    def insert_sketch(self, frame_id: int, text: str, variant: str = "small") -> dict:
        """Insert (or recompute) the sketch for one frame
        (sketch.rs:102-112); returns the generated entry. Driver-side
        math — one row never needs a job — via the same integer twin
        the tests pin the distributed builder against."""
        self._ensure_writable()
        from .operators import sketchtrack

        self._check_sketch_variant(variant)
        e = sketchtrack.py_sketch_entry(text, variant)
        words = sketchtrack.filter_word_cols(variant)
        row = {
            self.id_col: frame_id,
            "simhash": e["simhash"],
            **{w: e["filter_words"][i] for i, w in enumerate(words)},
            "token_count": e["token_count"],
            "length_hint": e["length_hint"],
            "short_text": e["short_text"],
            "top_terms": e["top_terms"],
            "term_weight_sum": e["term_weight_sum"],
        }
        schema = (
            f"{self.id_col} long, simhash long, "
            + ", ".join(f"{w} long" for w in words)
            + ", token_count long, length_hint long, short_text boolean,"
            + " top_terms array<long>, term_weight_sum long"
        )
        one = local_frame(self.spark, [row], schema)
        sk = self._sketch_df()
        if sk is not None:
            sk = sk.filter(F.col(self.id_col) != frame_id).unionByName(one)
        else:
            sk = one
        self._sketches = sk
        self._sketch_variant = variant
        return e

    def sketch_stats(self) -> dict:
        """Track stats (sketch.rs:89-92): entry count, short-text count,
        serialized size at the reference's fixed entry width."""
        from .operators import sketchtrack

        sk = self._sketch_df()
        variant = getattr(self, "_sketch_variant", "small")
        if sk is None:
            return {
                "total_entries": 0,
                "short_text_entries": 0,
                "track_bytes": 0,
                "variant": variant,
            }
        row = sketchtrack.sketch_track_stats(sk, variant).head()
        return {
            "total_entries": row["total_entries"],
            "short_text_entries": int(row["short_text_entries"] or 0),
            "track_bytes": row["track_bytes"],
            "variant": variant,
        }

    def _empty_sketch_df(self, variant: str) -> DataFrame:
        from .operators import sketchtrack

        words = sketchtrack.filter_word_cols(variant)
        return local_frame(
            self.spark,
            [],
            f"{self.id_col} long, simhash long, "
            + ", ".join(f"{w} long" for w in words)
            + ", token_count long, length_hint long, short_text boolean,"
            + " top_terms array<long>, term_weight_sum long",
        )

    def find_sketch_candidates(
        self,
        query: str,
        hamming_threshold: int | None = None,
        max_candidates: int | None = None,
        min_score: float = 0.0,
    ) -> DataFrame:
        """Two-stage sketch pre-filter: term-filter gate then SimHash
        Hamming gate, blended-score ranked (sketch.rs:169-206).
        Candidates feed BM25/vector reranking; an empty track yields no
        candidates, as in the reference."""
        from .operators import sketchtrack

        sk = self._sketch_df()
        variant = getattr(self, "_sketch_variant", "small")
        if sk is None:
            sk = self._empty_sketch_df(variant)
        return sketchtrack.sketch_candidates(
            sk,
            query,
            variant,
            hamming_threshold=(
                sketchtrack.DEFAULT_HAMMING_THRESHOLD
                if hamming_threshold is None
                else hamming_threshold
            ),
            max_candidates=(
                sketchtrack.DEFAULT_MAX_CANDIDATES
                if max_candidates is None
                else max_candidates
            ),
            min_score=min_score,
            id_col=self.id_col,
        )

    def find_sketch_candidates_with_stats(
        self,
        query: str,
        hamming_threshold: int | None = None,
        max_candidates: int | None = None,
        min_score: float = 0.0,
    ) -> tuple[DataFrame, dict]:
        """Candidates plus the gate-by-gate funnel counts of explain
        mode (sketch.rs:209-281): frames scanned, term-filter hits,
        SimHash hits, candidates returned — one distributed aggregation
        pass, not a driver loop."""
        from .operators import sketchtrack

        cands = self.find_sketch_candidates(
            query, hamming_threshold, max_candidates, min_score
        )
        sk = self._sketch_df()
        if sk is None:
            return cands, {
                "frames_scanned": 0,
                "term_filter_hits": 0,
                "simhash_hits": 0,
                "candidates_returned": 0,
            }
        stats = sketchtrack.sketch_search_stats(
            sk,
            query,
            getattr(self, "_sketch_variant", "small"),
            hamming_threshold=(
                sketchtrack.DEFAULT_HAMMING_THRESHOLD
                if hamming_threshold is None
                else hamming_threshold
            ),
            max_candidates=(
                sketchtrack.DEFAULT_MAX_CANDIDATES
                if max_candidates is None
                else max_candidates
            ),
            min_score=min_score,
            id_col=self.id_col,
        )
        return cands, stats

    def ask(
        self,
        question: str,
        top_k: int = 5,
        mask_pii: bool = False,
        query_vec: list[float] | None = None,
        ann: bool | None = None,
    ):
        """RAG pipeline: classify → retrieve → RRF → rerank → extractive
        answer (ask.rs:23-420). ``mask_pii`` masks emails/phones/SSNs at
        query time (pii.rs:30-71) — snippets and the stitched answer
        never expose raw identifiers; the scan-side regexp_replace stays
        in codegen.

        ``query_vec`` adds the vector candidate list to the retrieval
        fusion (ask.rs:211-297's semantic list). Routing mirrors the
        reference's brute-vs-HNSW engage threshold (src/vec.rs:22-23,
        57-60): below ANN_ENGAGE_ROWS — or when no serving tier is
        built — the list is the exact cosine scan (the correctness
        tier); past it the list comes from the IVF-cell NSW serving
        tier (cell-pruned, recall-bounded by q182's sweep guard).
        ``ann=False`` forces exact; ``ann=True`` requests the tier
        (still falling through below the threshold, like
        :meth:`search_embeddings`). RRF consumes ranks, so the L2
        tier's distances negate into rank order without touching the
        fusion. The route taken is recorded on
        ``self._last_ask_vec_route`` ("ann" | "exact")."""
        d = self.docs()
        if mask_pii:
            from .functions.extract import mask_pii as mask

            d = d.withColumn(self.text_col, mask(self.text_col))
        vec_list_fn = None
        if query_vec is not None:
            want_ann = True if ann is None else ann

            def vec_list_fn(k: int) -> DataFrame:
                routed = (
                    want_ann
                    and self.ann_enabled()
                    and self._ann_meta["n_rows"] >= self.ANN_ENGAGE_ROWS
                )
                self._last_ask_vec_route = "ann" if routed else "exact"
                hits = self.search_embeddings(query_vec, k=k, ann=routed)
                if routed:
                    # serving tier scores are L2 distance (ascending);
                    # rank fusion wants higher-is-better
                    score = (-F.col("score")).alias("score")
                elif self.vector_compression() != "none":
                    # the sq8/pq exact scans emit approx_dist
                    # (ascending-is-better) instead of a cosine score —
                    # negate into rank order like the L2 tier
                    score = (-F.col("approx_dist")).alias("score")
                else:
                    score = F.col("score")
                return hits.select(
                    F.col("vec_id").alias(self.id_col), score
                )

        return ask_mod.ask(
            d, question, top_k=top_k,
            id_col=self.id_col, text_col=self.text_col,
            vec_list_fn=vec_list_fn,
        )

    def audit(
        self,
        question: str,
        top_k: int = 10,
        include_snippets: bool = True,
        mask_pii: bool = False,
    ) -> tuple[dict, DataFrame]:
        """Provenance report for a question (audit.rs:44-158): run the
        ask() pipeline, then decorate every citation with frame
        metadata — uri, inferred title, auto tags, content dates — and
        (optionally) the hit snippet. Returns ``(report, sources)``:
        ``report`` mirrors AuditReport's scalar fields; ``sources`` is
        one row per citation in rank order (SourceSpan analogue). The
        citation list is top-k rows, so it broadcasts into the frame
        join; metadata derivation is scan-side column algebra."""
        from .functions.extract import (
            auto_tags,
            extract_dates,
            infer_title_from_uri,
        )

        res = self.ask(question, top_k=top_k, mask_pii=mask_pii)
        cit = local_frame(
            self.spark,
            [
                (i + 1, int(fid), float(score))
                for i, (fid, score) in enumerate(res.citations)
            ],
            "rank int, doc_id long, score double",
        )
        meta = self.docs().select(
            F.col(self.id_col).alias("doc_id"),
            F.col("source").alias("uri"),
            infer_title_from_uri(F.col("source")).alias("title"),
            auto_tags(F.col(self.text_col)).alias("tags"),
            extract_dates(F.col(self.text_col)).alias("content_dates"),
        )
        sources = meta.join(F.broadcast(cit), "doc_id").select(
            "rank", "doc_id", "uri", "title", "score", "tags",
            "content_dates",
        )
        if include_snippets:
            snip = res.hits.select(
                F.col(self.id_col).alias("doc_id"), "snippet"
            )
            sources = sources.join(F.broadcast(snip), "doc_id", "left")
        report = {
            "version": "1.0",
            "question": question,
            "answer": res.answer,
            "kind": res.kind,
            "total_hits": len(res.citations),
            "notes": [],
        }
        return report, sources.orderBy("rank")

    def knn(self, embeddings: DataFrame, query_vec, k: int = 10) -> DataFrame:
        return knn_mod.knn(embeddings, query_vec, k=k)

    # -- vector track (helpers.rs:13-130; enrichment.rs:470-650;
    #    lifecycle.rs:276-300 vector compression) -------------------------

    @property
    def _emb_buffer(self) -> list[tuple]:
        if not hasattr(self, "_emb_puts"):
            # (frame_id, embedding, provider, model) — same union model
            # as the frame/media tracks: session buffer over a
            # parquet-backed seed, drained on save()
            self._emb_puts: list[tuple] = []
            self._emb_seed: DataFrame | None = None
        return self._emb_puts

    EMB_SCHEMA = (
        "frame_id long, embedding array<float>, provider string, model string"
    )

    # Python-side vector-buffer bound: past this many buffered rows the
    # session buffer spills to a parquet side-track and the ANN pending
    # delta auto-applies. WITHOUT the bound a bulk session ingest of
    # millions of vectors holds them ALL as Python lists on the driver
    # (and, with the ANN tier built, a second copy in _ann_pending) —
    # the driver-side corpus-proportional state this engine bans
    # everywhere else. Interactive sessions never reach it.
    EMB_SPILL_ROWS = 100_000

    def _spill_emb_buffer(self) -> None:
        """Drain the Python-side vector buffer into a session-scoped
        spill parquet and re-seed the track as (original seed ∪ spill).
        APPEND-writes per spill — O(total rows) across any number of
        spills, where re-checkpointing the union would re-materialize
        the whole track per spill (O(n²/threshold)). The spill dir dies
        with save() (the track re-roots on the store parquet) or the
        session."""
        import tempfile

        buf = self._emb_buffer
        if not buf:
            return
        if getattr(self, "_emb_spill_dir", None) is None:
            self._emb_spill_dir = tempfile.mkdtemp(prefix="mv2_embspill_")
            # the pre-spill seed (an opened store's parquet) stays
            # where it is — only session adds land in the spill dir
            self._emb_spill_base = self._emb_seed
        local_frame(self.spark, buf, self.EMB_SCHEMA).write.mode(
            "append"
        ).parquet(self._emb_spill_dir)
        buf.clear()
        self.spark.catalog.refreshByPath(self._emb_spill_dir)
        spilled = self.spark.read.parquet(self._emb_spill_dir)
        base = self._emb_spill_base
        self._emb_seed = (
            spilled if base is None else base.unionByName(spilled)
        )

    def _drop_emb_spill(self) -> None:
        """Forget the session spill dir (after save() re-roots the
        track on the store parquet)."""
        import shutil

        d = getattr(self, "_emb_spill_dir", None)
        if d is not None:
            shutil.rmtree(d, ignore_errors=True)
            self._emb_spill_dir = None
            self._emb_spill_base = None

    def embeddings(self) -> DataFrame:
        """The vector track: (frame_id, embedding, provider, model)."""
        buf = self._emb_buffer
        parts = []
        if self._emb_seed is not None:
            parts.append(self._emb_seed)
        if buf:
            parts.append(local_frame(self.spark, buf, self.EMB_SCHEMA))
        if not parts:
            return local_frame(self.spark, [], self.EMB_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def add_embeddings(
        self,
        pairs: list[tuple[int, list[float]]],
        provider: str | None = None,
        model: str | None = None,
    ) -> int:
        """Add per-frame embeddings to the vector index
        (add_embeddings, enrichment.rs:470-520); returns the number
        added. Dimension must agree with the existing track — the
        mixed-dimension error of effective_vec_index_dimension
        (helpers.rs:33-77)."""
        self._ensure_writable()
        if not pairs:
            return 0
        dims = {len(v) for _, v in pairs}
        if len(dims) != 1:
            raise ValueError(f"mixed vector dimensions in batch: {sorted(dims)}")
        new_dim = dims.pop()
        cur = self.vec_index_dimension()
        if cur is not None and cur != new_dim:
            raise ValueError(
                f"vector dimension mismatch: index is {cur}, batch is {new_dim}"
            )
        for fid, vec in pairs:
            self._emb_buffer.append(
                (fid, [float(x) for x in vec], provider, model)
            )
        if self.ann_enabled():
            # buffered for the serving tier's incremental delta — the
            # index stays stale until save()/refresh_ann_index applies
            # it cell-locally (finalize_indexes moment, mutation.rs:913)
            self._text_tier.pending.extend(
                (fid, [float(x) for x in vec]) for fid, vec in pairs
            )
        self._vec_dim = new_dim
        for fid, _ in pairs:
            self.mark_frame_enriched(fid)
        # bulk-session bound: spill the Python buffer to parquet and
        # apply the buffered ANN delta once either crosses the
        # threshold — driver memory stays O(EMB_SPILL_ROWS), work stays
        # incremental (delta-apply touches only the delta's cells)
        if len(self._emb_buffer) >= self.EMB_SPILL_ROWS:
            self._spill_emb_buffer()
        if (
            self.ann_enabled()
            and len(self._text_tier.pending) >= self.EMB_SPILL_ROWS
        ):
            self.refresh_ann_index()
        return len(pairs)

    def put_with_embedding(
        self,
        text: str,
        vec: list[float],
        uri: str | None = None,
        lang: str = "en",
        dedup: bool = True,
        provider: str | None = None,
        model: str | None = None,
    ) -> int | None:
        """Atomic put + embed (put_with_embedding, mutation.rs) — the
        frame never sits in the Searchable-only state."""
        doc_id = self.put(text, uri=uri, lang=lang, dedup=dedup)
        if doc_id is not None:
            self.add_embeddings([(doc_id, vec)], provider=provider, model=model)
        return doc_id

    def has_embeddings(self) -> bool:
        """(has_embeddings, enrichment.rs:643-646)"""
        return bool(self._emb_buffer) or (
            self._emb_seed is not None and bool(self._emb_seed.head(1))
        )

    def vector_count(self) -> int:
        """(vector_count, enrichment.rs:649-652)"""
        return self.embeddings().count() if self.has_embeddings() else 0

    def vec_index_dimension(self) -> int | None:
        """The declared index dimension (vec_index_dimension,
        helpers.rs:17-24): set by the first add, None when empty."""
        self._emb_buffer  # init
        dim = getattr(self, "_vec_dim", None)
        if dim is None and self._emb_seed is not None:
            row = self._emb_seed.select(F.size("embedding")).head()
            if row is not None:
                dim = int(row[0])
                self._vec_dim = dim
        return dim

    def effective_vec_index_dimension(self) -> int | None:
        """Best-effort dimension with a conflict check across the whole
        track (effective_vec_index_dimension, helpers.rs:33-77): one
        distinct aggregation, raising on mixed dimensions."""
        if not self.has_embeddings():
            return None
        dims = [
            int(r[0])
            for r in self.embeddings().select(F.size("embedding")).distinct().collect()
        ]
        if len(dims) > 1:
            raise ValueError(f"mixed vector dimensions detected: {sorted(dims)}")
        return dims[0]

    def frame_embedding(self, frame_id: int) -> list[float] | None:
        """(frame_embedding, frame.rs:357-366)"""
        if not self.has_embeddings():
            return None
        row = (
            self.embeddings().filter(F.col("frame_id") == frame_id).head()
        )
        return list(row["embedding"]) if row is not None else None

    def set_vector_compression(self, compression: str) -> None:
        """Declare the ANN storage tier for this index
        (set_vector_compression, lifecycle.rs:280-284):
        none | sq8 | pq — the codebook tiers of operators/pq.py; the
        setting routes :meth:`search_embeddings`."""
        if compression not in ("none", "sq8", "pq"):
            raise ValueError(f"unknown vector compression {compression!r}")
        self._ensure_writable()
        self._vec_compression = compression

    def vector_compression(self) -> str:
        return getattr(self, "_vec_compression", "none")

    def search_embeddings(
        self, query_vec, k: int = 10, ann: bool = False,
        probes: int | None = None,
    ) -> DataFrame:
        """k-NN over the STORED vector track, routed by the declared
        compression tier: exact cosine scan for ``none``, SQ8
        asymmetric-distance scan for ``sq8``, PQ-ADC for ``pq``
        (the vec.rs search dispatch; quantized tiers are
        operators/pq.py's oracle-checked kernels).

        ``ann=True`` routes through the IVF-cell NSW serving tier
        (:meth:`build_ann_serving`) — cell-pruned beam search, scores
        are L2 distance like the reference's HNSW (src/simd.rs:13-70).
        The reference's brute-vs-HNSW engage threshold (>= 1000
        vectors, src/vec.rs:22-23) is the routing policy: below it the
        exact scan IS the right plan and ann=True falls through to it.
        """
        tier = self._text_tier
        if ann and tier.built:
            meta = tier.meta
            if meta["n_rows"] >= self.ANN_ENGAGE_ROWS:
                return hnsw.nsw_knn_pruned(
                    tier.serving_index(),
                    tier.model,
                    query_vec,
                    k=k,
                    ef_search=meta["ef_search"],
                    probes=probes if probes is not None else meta["probes"],
                )
        emb = self.embeddings().select(
            F.col("frame_id").alias("vec_id"), "embedding"
        )
        comp = self.vector_compression()
        if comp == "none":
            return knn_mod.knn(emb, query_vec, k=k)
        from .operators import pq as pq_mod

        if comp == "sq8":
            model = pq_mod.train_sq8(emb)
            codes = pq_mod.sq8_encode(model, emb)
            return pq_mod.sq8_topk(model, codes, query_vec, k=k)
        dim = self.vec_index_dimension() or len(query_vec)
        n_sub = 8 if dim % 8 == 0 else (4 if dim % 4 == 0 else 2)
        model = pq_mod.train_pq(emb, n_sub=n_sub, k=16)
        codes = pq_mod.encode(model, emb)
        return pq_mod.adc_topk(model, codes, query_vec, k=k)

    # -- ANN serving tier (src/vec.rs:22-28,345-435 HNSW; engaged at
    #    >=1000 vectors, vec.rs:22-23; rebuild-after-vacuum,
    #    mutation.rs:2999-3084) ------------------------------------------

    ANN_ENGAGE_ROWS = 1000  # brute-vs-ANN routing bound, vec.rs:22-23

    def ann_enabled(self) -> bool:
        return self._text_tier.built

    def build_ann_serving(
        self,
        n_cells: int | None = None,
        m: int = 16,
        ef_construction: int = 100,
        ef_search: int = 50,
        probes: int = 4,
        max_shard_rows: int = 25000,
        target_cell_rows: int = 25000,
        min_cells: int = 4,
        max_cells: int = 4096,
    ) -> None:
        """Build (or retrain) the IVF-cell NSW serving tier over the
        ACTIVE vector track: coarse centroids from a bounded seeded
        sample, per-cell NSW graphs, everything derived — a function of
        the embeddings track, rebuildable on demand like postings
        (rebuild_indexes model, api.rs:1038-1106). The index persists
        ``partitionBy("cell")`` on :meth:`save` so reopened stores
        serve cell-pruned searches with planning-time PartitionFilters;
        tombstoned frames are excluded (the serving tier serves the
        active corpus). Incremental maintenance: later
        :meth:`add_embeddings` / :meth:`delete` route through
        :meth:`refresh_ann_index` (delta == rebuild, pinned in
        operators/hnsw.py tests) instead of a full rebuild.

        ``n_cells=None`` (the default) sizes the cell count FROM THE
        CORPUS: auto_n_cells(n_rows, target_cell_rows) — a fixed cell
        count means mean cell size grows O(corpus) and per-query probed
        CPU / per-delta rebuild wall grow with it; corpus-sized cells
        keep both constant as data grows, and drift retrains RE-size
        (refresh_ann_index). Pass an explicit n_cells to pin it (the
        pinned count then survives retrains).

        ``min_cells`` / ``max_cells`` bound the auto sizing (the
        auto_n_cells clamp); the clamp survives retrains and heals.
        The default max_cells=4096 is conservative — a >100M-row
        corpus at the default target wants more cells, and raising the
        clamp needs no code fork: past 4096 cells the centroid TRAINER
        goes distributed (per-super-group k-means) and the ASSIGNMENT
        is already two-level. The coarse model's form follows its size
        (hnsw.train_coarse_model): past ``hnsw.FRAME_MODEL_MIN_CELLS``
        (4096) it stays a DATAFRAME (hnsw.CentroidFrame, persisted as
        parquet + manifest on :meth:`save`), so nothing collects or
        broadcasts the O(n_cells · dim) centroid table; at or below it
        the model is the byte-identical driver-side list."""
        self._text_tier.build(
            n_cells, m, ef_construction, ef_search, probes,
            max_shard_rows, target_cell_rows, min_cells, max_cells,
        )

    def search_embeddings_many(
        self,
        queries: DataFrame,
        k: int = 10,
        ann: bool = False,
        probes: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        exclude_same_id: bool = False,
    ) -> DataFrame:
        """Top-k stored neighbors for EVERY row of ``queries`` — the
        retrieval JOIN a training-data pipeline runs (dedup against the
        store, hard-negative mining), where per-query :meth:`
        search_embeddings` calls would be O(queries) driver-issued
        jobs. Returns (query_id, vec_id, score round6, rank 1..k).

        ``ann=True`` routes through the serving tier's batch cogroup
        (one job for the whole query table, hnsw.nsw_knn_join; scores
        are L2 like the reference's HNSW) behind the same >=1000-vector
        engage threshold as the single-query path (vec.rs:22-23);
        otherwise — and below the threshold — the exact broadcast
        similarity join (cosine, small query side by contract).
        ``exclude_same_id=True`` drops hits whose vec_id equals the
        query id (corpus-vs-self joins)."""
        tier = self._text_tier
        if ann and tier.built:
            meta = tier.meta
            if meta["n_rows"] >= self.ANN_ENGAGE_ROWS:
                return hnsw.nsw_knn_join(
                    tier.index,
                    tier.model,
                    queries,
                    k=k,
                    ef_search=meta["ef_search"],
                    probes=probes if probes is not None else meta["probes"],
                    query_id_col=query_id_col,
                    query_vec_col=query_vec_col,
                    exclude_same_id=exclude_same_id,
                )
        emb = self.embeddings().select(
            F.col("frame_id").alias("vec_id"), "embedding"
        )
        # NOTE: the exact path (knn_join) structurally drops id == q_id
        # pairs whatever exclude_same_id says — its join condition IS
        # the self-exclusion; pass exclude_same_id=True when comparing
        # the two paths on corpus-vs-self queries.
        return knn_mod.knn_join(
            emb,
            queries.select(
                F.col(query_id_col).alias("q_id"),
                F.col(query_vec_col).alias("q_vec"),
            ),
            k=k,
        ).withColumnRenamed("q_id", query_id_col)

    def _ann_active_track(self) -> DataFrame:
        """(vec_id, embedding double) — the tier's ground truth: the
        stored vector track minus tombstoned frames. The tombstone set
        is session state (manifest-sized, never corpus-sized)."""
        emb = self.embeddings().select(
            F.col("frame_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        if self._tombstones:
            gone = local_frame(
                self.spark,
                [(int(t),) for t in sorted(self._tombstones)], "vec_id long"
            )
            emb = emb.join(gone, "vec_id", "left_anti")
        return emb

    def refresh_ann_index(self) -> dict:
        """Apply buffered vector puts and tombstones to the serving
        index INCREMENTALLY (apply_delta_ivf: only touched cells
        rebuild — the reference's finalize_indexes moment,
        mutation.rs:913-918), then evaluate the drift policy: if
        occupancy skew crossed the retrain bound (cells trained on an
        old distribution no longer matching the data), retrain the
        coarse model on the current track and rebuild (vec.rs retrains
        its graph from scratch past the engage threshold; here it's a
        policy) — ``ivf_needs_retrain``'s engage/skew knobs. An
        auto-sized tier re-sizes n_cells from the live count. Returns
        the policy stats. Called by :meth:`save`; safe to call any
        time."""
        return self._text_tier.refresh()

    CHUNK_MIN_CHARS = 2400  # preview_chunks threshold, mutation.rs:3070

    def preview_chunks(self, payload: bytes) -> list[str] | None:
        """How a payload would chunk WITHOUT ingesting it
        (preview_chunks, mutation.rs:3085-3088): None when the
        extracted text is under the chunking threshold — the caller
        then embeds whole-document instead. Single payload → the chunk
        plan runs on a one-row frame through the same distributed
        chunker every ingested doc uses."""
        from .operators.chunking import chunk_documents

        text = self._reader_text(payload)
        if len(text) < self.CHUNK_MIN_CHARS:
            return None
        one = local_frame(self.spark, [(0, text)], "doc_id long, text string")
        rows = chunk_documents(one).orderBy("chunk_index").collect()
        return [r.chunk_text for r in rows]

    def put_with_chunk_embeddings(
        self,
        payload: bytes,
        chunk_embeddings: list[list[float]],
        uri: str | None = None,
        lang: str = "en",
        dedup: bool = True,
    ) -> int | None:
        """Ingest a payload with externally computed per-chunk
        embeddings (put_with_chunk_embeddings, mutation.rs; the
        preview_chunks → embed → put workflow). Chunk vectors land on
        the chunk-embedding track keyed (frame_id, chunk_index) — the
        late-interaction retrieval shape (q169)."""
        doc_id = self.put_bytes(payload, uri=uri, lang=lang, dedup=dedup)
        if doc_id is not None and chunk_embeddings:
            dims = {len(v) for v in chunk_embeddings}
            if len(dims) != 1:
                raise ValueError(f"mixed chunk dims: {sorted(dims)}")
            if not hasattr(self, "_chunk_emb_puts"):
                self._chunk_emb_puts: list[tuple] = []
            for i, vec in enumerate(chunk_embeddings):
                self._chunk_emb_puts.append(
                    (doc_id, i, [float(x) for x in vec])
                )
        return doc_id

    def chunk_embeddings(self) -> DataFrame:
        """(frame_id, chunk_index, embedding) — the chunk-level vector
        track late-interaction scoring consumes. Parquet-backed seed
        (save/open) unioned with the session put buffer, like every
        other track."""
        rows = getattr(self, "_chunk_emb_puts", [])
        seed = getattr(self, "_chunk_emb_seed", None)
        buf = local_frame(
            self.spark,
            rows, "frame_id long, chunk_index long, embedding array<float>"
        )
        return buf if seed is None else seed.unionByName(buf)

    def plan_from_chunks(
        self,
        chunks: DataFrame | None = None,
        segment_tokens: int = 2048,
        segment_pages: int = 64,
    ) -> DataFrame:
        """Segment build plans over the chunked corpus
        (SegmentPlanner::plan_from_chunks, planner.rs:17-121): chunks
        default to the standard chunker over the active docs."""
        from .operators.chunking import chunk_documents, plan_segments

        if chunks is None:
            chunks = chunk_documents(
                self.docs(), id_col=self.id_col, text_col=self.text_col
            )
        return plan_segments(
            chunks, segment_tokens=segment_tokens, segment_pages=segment_pages
        )

    def embedding_identity_summary(self, max_frames: int = 10_000) -> dict:
        """Which embedding identities produced this index
        (embedding_identity_summary, helpers.rs:92-130): scans up to
        ``max_frames`` track rows, distributed; returns
        unknown | single | mixed with per-identity counts descending."""
        if not self.has_embeddings():
            return {"status": "unknown", "identities": []}
        counts = (
            self.embeddings()
            .limit(max_frames)
            .filter(F.col("provider").isNotNull() | F.col("model").isNotNull())
            .groupBy("provider", "model")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "provider", "model")
            .collect()
        )
        idents = [
            {"provider": r.provider, "model": r.model, "count": r.n} for r in counts
        ]
        if not idents:
            return {"status": "unknown", "identities": []}
        status = "single" if len(idents) == 1 else "mixed"
        return {"status": status, "identities": idents}

    def timeline(
        self,
        events: DataFrame,
        since: int | None = None,
        until: int | None = None,
        reverse: bool = True,
        limit: int = 100,
    ) -> DataFrame:
        return asof.timeline(events, since, until, reverse, limit)

    # -- memory cards (memory.rs:222-293) ---------------------------------

    CARD_SCHEMA = (
        "entity string, slot string, value string, "
        "version_relation string, ts long, seq long, "
        "kind string, polarity string"
    )

    def remember(
        self,
        entity: str,
        slot: str,
        value: str,
        relation: str = "Updates",
        ts: int | None = None,
        kind: str = "Fact",
        polarity: str = "Positive",
    ) -> None:
        """Append a memory card; ``relation`` ∈ Updates|Extends|Retracts
        (memory_card.rs:76-90), ``kind`` ∈ Fact|Preference|Event|...
        and ``polarity`` ∈ Positive|Negative (memory_card.rs:116-127).
        ``ts`` defaults to a logical clock (the card sequence) so
        sessions replay deterministically."""
        if not hasattr(self, "_cards"):
            self._cards: list[tuple] = []
        if self.is_schema_strict():
            violation = self.validate_card(slot, value)
            if violation is not None:
                # strict mode rejects instead of warn-and-insert
                # (set_schema_strict contract, memory.rs:360-370)
                raise ValueError(f"schema violation for slot {slot!r}: {violation}")
        seq = len(self._cards)
        self._cards.append(
            (entity, slot, value, relation, ts or seq, seq, kind, polarity)
        )

    def cards(self) -> DataFrame:
        rows = getattr(self, "_cards", [])
        return local_frame(self.spark, rows, self.CARD_SCHEMA)

    def get_current_memory(self, entity: str | None = None) -> DataFrame:
        """Latest non-retracted card per (entity, slot)
        (get_current_memory, memory.rs:222-224)."""
        from .operators import memory

        cur = memory.current_cards(self.cards())
        if entity is not None:
            cur = cur.filter(F.col("entity") == entity)
        return cur

    def memory_at(self, ts_upper: int) -> DataFrame:
        from .operators import memory

        return memory.memory_at_time(self.cards(), ts_upper)

    def memory_entities(self, limit: int = 10_000) -> list[str]:
        """Distinct entities, sorted — mirrors the reference API's list
        return, but CAPPED: entity cardinality is unbounded at corpus
        scale, so this collects at most ``limit`` (raising when the cap
        is hit rather than silently truncating). For unbounded pipelines
        use :meth:`memory_entities_df` and keep it distributed."""
        rows = (
            self.cards().select("entity").distinct().limit(limit + 1).collect()
        )
        if len(rows) > limit:
            raise ValueError(
                f"more than {limit} distinct entities; use "
                "memory_entities_df() or raise the limit explicitly"
            )
        return sorted(r.entity for r in rows)

    def memory_entities_df(self) -> DataFrame:
        """Distributed twin of :meth:`memory_entities` (no driver cap)."""
        return self.cards().select("entity").distinct()

    def get_entity_memories(self, entity: str) -> DataFrame:
        """Every card for an entity in insertion order
        (get_entity_memories, memory.rs:253-256)."""
        return self.cards().filter(F.col("entity") == entity).orderBy("seq")

    def memory_timeline(self, entity: str) -> DataFrame:
        """Event-kind cards for an entity in effective-timestamp order
        (get_memory_timeline, memories_track.rs:451-460)."""
        return (
            self.cards()
            .filter((F.col("entity") == entity) & (F.col("kind") == "Event"))
            .orderBy("ts", "seq")
        )

    def preferences(self, entity: str, positive_only: bool = False) -> DataFrame:
        """Preference-kind cards for an entity (get_preferences /
        get_positive_preferences, memories_track.rs:462-477)."""
        p = self.cards().filter(
            (F.col("entity") == entity) & (F.col("kind") == "Preference")
        )
        if positive_only:
            p = p.filter(F.col("polarity") == "Positive")
        return p.orderBy("seq")

    def memories_stats(self) -> dict:
        """Card/entity/slot counts plus per-kind histogram
        (memories_stats, memories_track.rs:591-605)."""
        cards = self.cards()
        agg = cards.agg(
            F.count("*").alias("n"),
            F.count_distinct("entity").alias("entities"),
            F.count_distinct("entity", "slot").alias("slots"),
        ).head()
        by_kind = {
            r.kind: r.n
            for r in cards.groupBy("kind").agg(F.count("*").alias("n")).collect()
        }
        return {
            "card_count": int(agg.n),
            "entity_count": int(agg.entities),
            "slot_count": int(agg.slots),
            "cards_by_kind": by_kind,
        }

    def aggregate_memory_slot(self) -> DataFrame:
        from .operators import memory

        return memory.aggregate_memory_slot(self.cards())

    def clear_memories(self) -> None:
        """Destructive: drop every memory card (clear_memories,
        memory.rs:336-339)."""
        self._ensure_writable()
        self._cards = []

    # -- schema registry (memory.rs:343-560, types/schema.rs) --------------

    @property
    def _schema_reg(self) -> dict[str, tuple[str, str]]:
        if not hasattr(self, "_schemas_by_slot"):
            # slot → (value_type, cardinality); the registry is a
            # predicate-vocabulary-sized map, driver-resident like the
            # reference's SchemaRegistry (memory.rs:346-356)
            self._schemas_by_slot: dict[str, tuple[str, str]] = {}
        return self._schemas_by_slot

    def register_schema(
        self, slot: str, value_type: str, cardinality: str = "Single"
    ) -> None:
        """Register a predicate schema (register_schema,
        memory.rs:381-384). ``value_type`` ∈ number|date|boolean|string,
        ``cardinality`` ∈ Single|Multiple (schema.rs:87-95)."""
        if value_type not in ("number", "date", "boolean", "string"):
            raise ValueError(f"unknown value_type {value_type!r}")
        if cardinality not in ("Single", "Multiple"):
            raise ValueError(f"unknown cardinality {cardinality!r}")
        self._schema_reg[slot] = (value_type, cardinality)

    def schema_registry(self) -> DataFrame:
        """The registered schemas as a (slot, value_type, cardinality)
        DataFrame — the shape every validation operator consumes."""
        rows = [
            (slot, vt, card) for slot, (vt, card) in sorted(self._schema_reg.items())
        ]
        return local_frame(
            self.spark,
            rows, "slot string, value_type string, cardinality string"
        )

    def set_schema_strict(self, strict: bool) -> None:
        """Strict mode (memory.rs:367-370): ``remember`` rejects cards
        whose slot is unregistered or whose value's type deviates from
        the registered schema."""
        self._schema_strict = strict

    def is_schema_strict(self) -> bool:
        return getattr(self, "_schema_strict", False)

    def validate_card(self, slot: str, value: str) -> str | None:
        """Validate one card against the registry (validate_card,
        memory.rs:392-409): returns ``unknown_slot``, ``type_mismatch``
        or None. Driver-side — one value never needs a job; the
        classifier is the exact twin of the distributed one."""
        from .operators.memory import classify_value

        reg = self._schema_reg.get(slot)
        if reg is None:
            return "unknown_slot"
        if classify_value(value) != reg[0]:
            return "type_mismatch"
        return None

    def validate_cards(self) -> DataFrame:
        """All violating cards vs the registered schemas
        (validate_cards, memory.rs:417-430): distributed, one broadcast
        join against the registry."""
        from .operators import memory

        return memory.validate_cards(self.cards(), self.schema_registry())

    def infer_schemas(self) -> DataFrame:
        """Inferred per-slot schemas from the card stream
        (infer_schemas, memory.rs:434-493)."""
        from .operators import memory

        return memory.infer_schemas(self.cards())

    def register_inferred_schemas(self, overwrite: bool = False) -> int:
        """Infer and register (register_inferred_schemas,
        memory.rs:496-510); returns the number registered. The collect
        is bounded by the predicate vocabulary — the same driver-side
        scope the registry itself has."""
        self._ensure_writable()
        count = 0
        for r in self.infer_schemas().collect():
            if overwrite or r.slot not in self._schema_reg:
                self._schema_reg[r.slot] = (r.value_type, r.cardinality)
                count += 1
        return count

    def schema_summary(self) -> DataFrame:
        """Per-slot display summary: inferred schema + value/unique/
        entity counts + registered flag (schema_summary,
        memory.rs:513-560)."""
        from .operators import memory

        return memory.schema_summary(
            self.cards(),
            self.schema_registry() if self._schema_reg else None,
        )

    def cardinality_violations(self) -> DataFrame:
        """Entities currently holding multiple values in a registered
        Single slot (schema.rs:257-476 validation)."""
        from .operators import memory

        return memory.cardinality_violations(self.cards(), self.schema_registry())

    # -- graph (logic_mesh.rs:459-514, graph_search.rs:311-440) ------------

    def build_mesh(self) -> tuple[DataFrame, DataFrame]:
        """Enrichment pass over the corpus → (nodes, edges): rule NER
        feeds MeshNodes, SPO triplets feed typed MeshEdges (the Logic-
        Mesh build, logic_mesh.rs:27-80; RulesEngine, enrich/engine.rs).
        Users with a real entity pipeline pass their own tables to
        ``hybrid_search`` instead."""
        from .functions import enrich
        from .operators import mesh

        sents = enrich.render_person_sentences(self.docs(), text_col=self.text_col)
        nodes = mesh.nodes_from_entities(enrich.ner_entities(sents))
        edges = enrich.edges_from_triplets(enrich.spo_triplets(sents))
        return nodes, edges

    # -- logic-mesh admin (src/memvid/mesh.rs:13-200) ----------------------

    NODE_SCHEMA = "entity string, kind string, frame_ids array<long>, support long"
    EDGE_SCHEMA = (
        "src string, dst string, link_type string, frame_id long, confidence double"
    )

    def set_logic_mesh(self, nodes: DataFrame, edges: DataFrame) -> None:
        """Replace the whole mesh (set_logic_mesh, mesh.rs:36-39) —
        e.g. with the output of :meth:`build_mesh`."""
        self._ensure_writable()
        self._mesh_nodes = nodes
        self._mesh_edges = edges

    def logic_mesh(self) -> tuple[DataFrame, DataFrame]:
        """The stored mesh as (nodes, edges) DataFrames
        (logic_mesh, mesh.rs:19-21); empty tables when unset."""
        nodes = getattr(self, "_mesh_nodes", None)
        edges = getattr(self, "_mesh_edges", None)
        if nodes is None:
            nodes = local_frame(self.spark, [], self.NODE_SCHEMA)
        if edges is None:
            edges = local_frame(self.spark, [], self.EDGE_SCHEMA)
        return nodes, edges

    def has_logic_mesh(self) -> bool:
        """(has_logic_mesh, mesh.rs:161-165)"""
        nodes, edges = self.logic_mesh()
        return bool(nodes.head(1)) or bool(edges.head(1))

    def add_mesh_node(
        self, entity: str, kind: str, frame_ids: list[int], support: int = 1
    ) -> None:
        """Merge one entity node by (canonical name, kind): frame_ids
        union, mentions accumulate (add_mesh_node, mesh.rs:48-51;
        merge_node, logic_mesh.rs:516-536)."""
        self.add_mesh_nodes([(entity, kind, frame_ids, support)])

    def add_mesh_nodes(self, nodes: list[tuple]) -> None:
        """(add_mesh_nodes, mesh.rs:57-63) — one distributed merge for
        the whole batch: union + re-aggregate on the merge key, never a
        per-node driver loop."""
        self._ensure_writable()
        new = local_frame(self.spark, nodes, self.NODE_SCHEMA)
        cur, _ = self.logic_mesh()
        merged = (
            cur.unionByName(new)
            .groupBy("entity", "kind")
            .agg(
                F.sort_array(
                    F.array_distinct(F.flatten(F.collect_list("frame_ids")))
                ).alias("frame_ids"),
                F.sum("support").cast("long").alias("support"),
            )
        )
        self._mesh_nodes = merged

    def add_mesh_edge(
        self,
        src: str,
        dst: str,
        link_type: str,
        frame_id: int = 0,
        confidence: float = 1.0,
    ) -> None:
        """Add one typed edge, deduplicated by (from, to, link_type)
        (add_mesh_edge, mesh.rs:71-74; merge_edge,
        logic_mesh.rs:539-548)."""
        self.add_mesh_edges([(src, dst, link_type, frame_id, confidence)])

    def add_mesh_edges(self, edges: list[tuple]) -> None:
        """(add_mesh_edges, mesh.rs:80-85): existing edges win the
        dedup, like the reference's skip-if-present merge."""
        self._ensure_writable()
        new = local_frame(self.spark, edges, self.EDGE_SCHEMA)
        _, cur = self.logic_mesh()
        # anti-join keeps the FIRST (existing) copy of a duplicate key
        fresh = new.join(
            cur.select("src", "dst", "link_type"),
            ["src", "dst", "link_type"],
            "left_anti",
        ).dropDuplicates(["src", "dst", "link_type"])
        self._mesh_edges = cur.unionByName(fresh)

    def find_entity(self, name: str) -> dict | None:
        """Case-insensitive node lookup (find_entity, mesh.rs:111-113)."""
        nodes, _ = self.logic_mesh()
        row = nodes.filter(F.lower(F.col("entity")) == name.lower()).head()
        return row.asDict() if row is not None else None

    def frame_entities(self, frame_id: int) -> DataFrame:
        """Entities mentioned in one frame (frame_entities,
        mesh.rs:123-130): membership filter on the node table."""
        nodes, _ = self.logic_mesh()
        return nodes.filter(F.array_contains("frame_ids", F.lit(frame_id)))

    def entities_by_kind(self, kind: str) -> DataFrame:
        """(entities_by_kind, mesh.rs:139-146)"""
        nodes, _ = self.logic_mesh()
        return nodes.filter(F.col("kind") == kind)

    def mesh_node_count(self) -> int:
        return self.logic_mesh()[0].count()

    def mesh_edge_count(self) -> int:
        return self.logic_mesh()[1].count()

    def logic_mesh_stats(self) -> dict:
        """Node/edge counts + per-kind and per-link histograms
        (logic_mesh_stats, mesh.rs:152-155)."""
        nodes, edges = self.logic_mesh()
        by_kind = {
            r.kind: r.n
            for r in nodes.groupBy("kind").agg(F.count("*").alias("n")).collect()
        }
        by_link = {
            r.link_type: r.n
            for r in edges.groupBy("link_type").agg(F.count("*").alias("n")).collect()
        }
        return {
            "node_count": sum(by_kind.values()),
            "edge_count": sum(by_link.values()),
            "nodes_by_kind": by_kind,
            "edges_by_link": by_link,
        }

    def follow_entity(self, start: str, link: str, hops: int = 2) -> DataFrame:
        """Name-based traversal over the STORED mesh (follow,
        mesh.rs:100-102): resolve the start entity case-insensitively,
        then the bounded-hop frontier walk of :meth:`follow`."""
        nodes, edges = self.logic_mesh()
        starts = nodes.filter(
            F.lower(F.col("entity")) == start.lower()
        ).select(F.col("entity").alias("node_id"))
        from .operators import mesh

        return mesh.follow(edges, starts, hops=hops, link_type=link)

    def hybrid_search(
        self,
        question: str,
        top_k: int = 10,
        nodes: DataFrame | None = None,
        edges: DataFrame | None = None,
        hops: int = 2,
    ) -> DataFrame:
        """Planner-routed retrieval (graph_search.rs:94-141,311-440):
        keyword cues pick vector_only / graph_only / hybrid. Graph side =
        entities named in the question, followed ``hops`` steps, their
        frame_ids becoming the candidate set; hybrid semi-joins lexical
        hits into it (the reference's graph→candidate→rank semi-join,
        graph_search.rs:285-307)."""
        from .operators import mesh
        from .operators.ask import sanitize_question

        plan = mesh.plan_query(question)
        if plan.mode == "vector_only":
            return self.search(question, top_k=top_k)

        if nodes is None or edges is None:
            nodes, edges = self.build_mesh()

        toks = set(question.lower().split())
        starts = (
            nodes.filter(F.lower(F.col("entity")).isin(sorted(toks)))
            .select(F.col("entity").alias("node_id"))
            .distinct()
        )
        reached = mesh.follow(edges, starts, hops=hops).select(
            F.col("node_id").alias("entity")
        )
        matched = nodes.join(
            reached.unionByName(starts.select(F.col("node_id").alias("entity"))).distinct(),
            "entity",
            "left_semi",
        )
        cand = (
            matched.select(F.explode("frame_ids").alias(self.id_col), "support")
            .groupBy(self.id_col)
            .agg(F.sum("support").cast("long").alias("graph_score"))
        )
        if plan.mode == "graph_only":
            return cand.orderBy(
                F.col("graph_score").desc(), F.col(self.id_col).asc()
            ).limit(top_k)
        text_terms = [t for t in sanitize_question(question) if t not in mesh.GRAPH_KEYWORDS]
        lex = search_mod.bm25_topk(
            self.docs(), text_terms, k=1_000_000,
            id_col=self.id_col, text_col=self.text_col,
        )
        return (
            lex.join(F.broadcast(cand.select(self.id_col)), self.id_col, "left_semi")
            .orderBy(F.col("score").desc(), F.col(self.id_col).asc())
            .limit(top_k)
        )

    def follow(
        self,
        edges: DataFrame,
        start_nodes: DataFrame,
        link_type: str | None = None,
        hops: int = 2,
    ) -> DataFrame:
        """Bounded-hop traversal from a start frontier over a typed edge
        table (MeshTraversal; frontier is broadcast per hop, the edge
        table never moves)."""
        from .operators import mesh

        return mesh.follow(edges, start_nodes, link_type=link_type, hops=hops)

    # -- doctor / replay (doctor.rs; replay/engine.rs:118-637) -------------

    def doctor(
        self,
        derived: dict[str, DataFrame] | None = None,
        heal: bool = False,
        rebuilders: dict[str, Callable[[], DataFrame | None]] | None = None,
    ) -> DataFrame:
        """Consistency audit (doctor.rs; healing exercised at
        lib.rs:1160-1248 and tests/doctor_recovery.rs:194-717):
        duplicate-key check on the frame log, missing/orphaned audit of
        every supplied derived table, plus the facade's own pointer
        invariants — tombstones and supersedes targets must reference
        frames that exist. The facade's sketch track joins the audit
        automatically whenever the manifest records a built variant, so
        a dropped/corrupt sketches parquet shows up as ``missing`` rows.

        ``heal=True`` runs the reference's heal-then-pass loop across
        index kinds (doctor_recovery.rs:194-717 drops each index in
        turn and expects doctor to restore it): every
        ``rebuild_derived_table`` / ``vacuum_derived_table`` action in
        the heal plan routes through a per-table REBUILDER REGISTRY —
        the facade registers its own persisted derived state
        (``sketches`` → :meth:`finalize_indexes`; every derived table
        here is a rebuildable function of the content table), and
        callers supplying ``derived`` tables pass the matching rebuild
        closure via ``rebuilders={name: fn}``. A closure may return the
        rebuilt DataFrame, which replaces the audited table for the
        re-audit (needed when the closure rewrote the files behind the
        original DataFrame). Tables with findings but no registered
        rebuilder are left as plan entries — visible in the returned
        POST-heal report, never silently dropped. Returns the findings
        report; ``heal()`` turns a report into the action plan without
        executing it."""
        derived = dict(derived or {})
        rep = self._doctor_report(derived)
        if not heal:
            return rep
        from .operators.doctor import heal_plan

        variant = getattr(self, "_sketch_variant", None)
        registry: dict[str, Callable[[], DataFrame | None]] = {
            # one O(n) rebuild fixes both stale and orphaned sketch rows
            "sketches": lambda: self.finalize_indexes(variant or "small"),
        }
        for tier in (self._text_tier, self._image_tier):
            if tier.built:
                registry.update(tier.heal_registry())
        registry.update(rebuilders or {})
        healed: set[str] = set()
        for row in heal_plan(rep).collect():  # findings table — tiny
            if row.action not in (
                "rebuild_derived_table",
                "vacuum_derived_table",
                "refresh_entry_cover",
            ):
                continue
            fix = registry.get(row.table_name)
            if fix is None or row.table_name in healed:
                continue
            healed.add(row.table_name)
            rebuilt = fix()
            if isinstance(rebuilt, DataFrame):
                derived[row.table_name] = rebuilt
        return self._doctor_report(derived)

    def _doctor_report(
        self, derived: dict[str, DataFrame] | None = None
    ) -> DataFrame:
        from .operators.doctor import doctor_report

        derived = dict(derived or {})
        frames_df = self._union_docs()
        rep = doctor_report(frames_df, derived, frame_key=self.id_col)
        variant = getattr(self, "_sketch_variant", None)
        if variant is not None and "sketches" not in derived:
            from .functions.text import tokens as _tokens

            sk = self._sketch_df()
            if sk is None:
                sk = self._empty_sketch_df(variant)
            # the track covers ACTIVE frames with ≥1 sketchable token
            # (build_all_sketches' empty-text skip, sketch.rs:124-152) —
            # audit against that key set, not the full frame log
            sketchable = self.docs().filter(
                F.exists(
                    _tokens(self.text_col), lambda t: F.length(t) >= 2
                )
            )
            sk_rep = doctor_report(
                sketchable, {"sketches": sk}, frame_key=self.id_col
            ).filter(F.col("table_name") != "frames")
            rep = rep.unionByName(sk_rep)
        for tier in (self._text_tier, self._image_tier):
            if tier.built and f"{tier.key}_index" not in derived:
                rep = rep.unionByName(tier.audit(self.id_col))
        ids = frames_df.select(F.col(self.id_col).alias("k")).distinct()
        for name, vals in (
            ("tombstones", self._tombstones),
            ("supersedes", set(self._supersedes.values())),
        ):
            if vals:
                ptr = local_frame(
                    self.spark, [(int(v),) for v in sorted(vals)], "k long"
                )
                dangling = (
                    ptr.join(ids, "k", "left_anti")
                    .agg(F.count("*").alias("n_affected"))
                    .select(
                        F.lit("dangling_pointer").alias("check"),
                        F.lit(name).alias("table_name"),
                        "n_affected",
                    )
                )
                rep = rep.unionByName(dangling)
        return rep

    def heal(self, report: DataFrame) -> DataFrame:
        """Findings → repair actions (doctor.rs heals a stale index by
        rebuilding it from frames)."""
        from .operators.doctor import heal_plan

        return heal_plan(report)

    REPLAY_SCHEMA = "seq long, action_type string, params string, value double"

    def record_search(self, query: str, top_k: int = 10) -> DataFrame:
        """Execute a search and record (action, params, result frame ids)
        on the replay track — the reference records every request while a
        replay session is active (search/mod.rs:282-291)."""
        hits = self.search(query, top_k=top_k)
        ids = [r[self.id_col] for r in hits.select(self.id_col).collect()]
        self._replay.append((len(self._replay), query, top_k, ids))
        return hits

    def _replay_rows(self, entries) -> DataFrame:
        rows = [
            (seq, "search", f"{q}|k={k}|{','.join(map(str, ids))}", 0.0)
            for seq, q, k, ids in entries
        ]
        return local_frame(self.spark, rows, self.REPLAY_SCHEMA)

    def replay_log(self) -> DataFrame:
        """The recorded session as a replay_actions table (SURVEY §1.2)."""
        return self._replay_rows(self._replay)

    def save_replay(self, path: str) -> int:
        """Persist the recorded session (save_replay_sessions,
        replay_ops.rs:236-247): a versioned JSON envelope like the ANN
        artifacts — replay logs are action-count sized, never
        corpus-sized. Returns the number of actions saved."""
        import json

        env = {"version": 1, "kind": "replay", "actions": self._replay}
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(env, f)
        os.replace(tmp, path)
        return len(self._replay)

    def load_replay(self, path: str) -> int:
        """Restore a recorded session for re-execution/divergence diff
        (replay_ops.rs list/get session surface)."""
        import json

        with open(path, encoding="utf-8") as f:
            env = json.load(f)
        if env.get("kind") != "replay" or env.get("version") != 1:
            raise ValueError(f"not a replay artifact: {path}")
        self._replay = [
            (int(seq), q, int(k), [int(i) for i in ids])
            for seq, q, k, ids in env["actions"]
        ]
        return len(self._replay)

    def replay(self) -> DataFrame:
        """Deterministic re-execution + divergence diff
        (replay/engine.rs:118-637): re-run every recorded action against
        the CURRENT corpus and seq-align fingerprints — ``same`` when the
        engine reproduces the recorded results, ``diverged`` after state
        changed (the replay-integrity contract)."""
        from .operators.replay import divergence_diff

        rerun = []
        for seq, q, k, _ids in self._replay:
            ids = [
                r[self.id_col]
                for r in self.search(q, top_k=k).select(self.id_col).collect()
            ]
            rerun.append((seq, q, k, ids))
        return divergence_diff(self.replay_log(), self._replay_rows(rerun))

    # -- lifecycle persistence (lifecycle.rs create/open; SURVEY §1.1) ----

    MANIFEST_VERSION = 1

    def save(self, path: str) -> None:
        """Persist the store to a directory: the full frame log as
        parquet (the .mv2 analogue, Spark-first — a table, not a file),
        media payloads as parquet, and the non-derivable driver-side
        state (tombstones, supersede chain, replay log, ticket ref,
        binding, allocation, schema registry, memory cards, enrichment
        queue) as a versioned JSON manifest. The sketch track persists
        as parquet (the reference ships it inside the .mv2 container,
        sketch_track.rs); purely rebuildable derived state (postings,
        dedup registry) is NOT saved — it is a function of the content
        table and rebuilds on demand (rebuild_indexes model,
        api.rs:1038-1106)."""
        import base64
        import json

        os.makedirs(path, exist_ok=True)
        # Both tables write-to-temp then swap: the session's seed
        # DataFrames may be lazily reading the very paths being
        # replaced, and a direct overwrite deletes the input files
        # mid-scan (save() over the store you open()ed from). After the
        # swap each track re-roots on the compacted parquet and its
        # session put buffer drains — exactly the state open() builds.
        self._seed = self._write_swap(
            self._union_docs(), os.path.join(path, "frames.parquet")
        )
        self._puts = []
        self._media_seed = self._write_swap(
            self._media_all(), os.path.join(path, "media.parquet")
        )
        self._media_puts = []
        if self.has_embeddings():
            # the vector track is NOT derivable (external model output),
            # so unlike postings/sketches it persists with the store
            self._emb_seed = self._write_swap(
                self.embeddings(), os.path.join(path, "embeddings.parquet")
            )
            self._emb_puts = []
            self._drop_emb_spill()  # track re-rooted on the store
        if getattr(self, "_chunk_emb_puts", None) or (
            getattr(self, "_chunk_emb_seed", None) is not None
        ):
            # chunk-level vectors are external model output too
            self._chunk_emb_seed = self._write_swap(
                self.chunk_embeddings(),
                os.path.join(path, "chunk_embeddings.parquet"),
            )
            self._chunk_emb_puts = []
        # ANN serving tiers: pending mutations apply incrementally,
        # then index and model persist (_AnnTier.save)
        for tier in (self._text_tier, self._image_tier):
            if tier.built:
                tier.save(path)
        # the sketch track persists with the store (the reference ships
        # it inside the .mv2 container, sketch_track.rs) — unlike
        # postings it is maintained incrementally, not rebuilt per open
        if self._sketch_df() is not None:
            self._sketches = self._write_swap(
                self._sketch_df(), os.path.join(path, "sketches.parquet")
            )
        else:
            # a cleared track (commit_skip_indexes) must not leave a
            # stale parquet for the next open() to read
            import shutil

            shutil.rmtree(
                os.path.join(path, "sketches.parquet"), ignore_errors=True
            )
        manifest = {
            "version": self.MANIFEST_VERSION,
            "kind": "memvid-spark-store",
            "id_col": self.id_col,
            "text_col": self.text_col,
            "next_id": self._next_id,
            "payload_tail": self._payload_tail,
            "tier": self._tier,
            "tombstones": sorted(self._tombstones),
            "tombstoned_at": {str(k): v for k, v in self._tombstoned_at.items()},
            "supersedes": {str(k): v for k, v in self._supersedes.items()},
            "replay": self._replay,
            "tables": self._tables,
            "memory_id": self._memory_id,
            "vector_compression": self.vector_compression(),
            "trusted_pubkey": (
                base64.b64encode(self._trusted_pubkey).decode()
                if self._trusted_pubkey
                else None
            ),
            "ticket": vars(self._ticket),
            # session tracks the reference persists with the store:
            # sketch variant, schema registry + strict flag, memory
            # cards, and the enrichment queue/unenriched set (all
            # bounded by session mutations — manifest-sized, never
            # corpus-sized)
            "sketch_variant": getattr(self, "_sketch_variant", None),
            "schemas": {s: list(v) for s, v in self._schema_reg.items()},
            "schema_strict": self.is_schema_strict(),
            "cards": [list(c) for c in getattr(self, "_cards", [])],
            "unenriched": sorted(self._unenriched),
            "enrich_queue": [int(x) for x in self._enrich_queue],
            "ann": self._text_tier.meta if self.ann_enabled() else None,
            "img_ann": (
                self._image_tier.meta if self.image_ann_enabled() else None
            ),
        }
        tmp = os.path.join(path, "manifest.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "manifest.json"))
        self._store_path = path

    def _write_swap(
        self,
        df: DataFrame,
        final_path: str,
        partition_by: str | None = None,
    ) -> DataFrame:
        """Write ``df`` to ``final_path`` via a temp directory + rename,
        refresh Spark's cached file listing (stale entries would point
        at the deleted pre-swap files), and return a fresh lazy reader
        rooted on the new files. ``partition_by`` hive-partitions the
        layout (the ANN index's ``cell=`` pruning key)."""
        import shutil

        tmp = final_path + ".tmp"
        w = df.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(tmp)
        if os.path.exists(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp, final_path)
        self.spark.catalog.refreshByPath(final_path)
        return self.spark.read.parquet(final_path)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        read_only: bool = False,
        rebuild_dedup: bool = False,
    ) -> "MemvidSpark":
        """Reopen a saved store. ``read_only`` maps open_read_only
        (lifecycle.rs): mutating calls raise. ``rebuild_dedup=True``
        re-collects the content-hash registry so put-dedup spans the
        reopened corpus — O(corpus) driver memory, the same in-memory
        scope the live registry has; at warehouse scale the registry is
        itself a table and dedup is the q24 anti-join."""
        import base64
        import json

        with open(os.path.join(path, "manifest.json"), encoding="utf-8") as f:
            man = json.load(f)
        if man.get("kind") != "memvid-spark-store" or man.get("version") != 1:
            raise ValueError(f"not a memvid-spark store: {path}")
        from .operators.tickets import TicketRef

        frames_path = os.path.join(path, "frames.parquet")
        spark.catalog.refreshByPath(frames_path)
        seed = spark.read.parquet(frames_path)
        mv = cls(
            spark, seed=seed, id_col=man["id_col"], text_col=man["text_col"]
        )
        mv._next_id = int(man["next_id"])
        mv._payload_tail = int(man["payload_tail"])
        mv._tier = man["tier"]
        mv._tombstones = set(man["tombstones"])
        mv._tombstoned_at = {int(k): v for k, v in man["tombstoned_at"].items()}
        mv._supersedes = {int(k): v for k, v in man["supersedes"].items()}
        mv._replay = [
            (int(s), q, int(k), [int(i) for i in ids])
            for s, q, k, ids in man["replay"]
        ]
        mv._tables = man.get("tables", {})
        mv._memory_id = man["memory_id"]
        if man["trusted_pubkey"]:
            mv._trusted_pubkey = base64.b64decode(man["trusted_pubkey"])
        mv._ticket = TicketRef(**man["ticket"])
        # lazy parquet-backed media seed: payloads stay on executors;
        # nothing is collected at open time (refresh first — a save()
        # in this session may have swapped the directory contents)
        media_path = os.path.join(path, "media.parquet")
        spark.catalog.refreshByPath(media_path)
        mv._media_seed = spark.read.parquet(media_path)
        emb_path = os.path.join(path, "embeddings.parquet")
        if os.path.exists(emb_path):
            spark.catalog.refreshByPath(emb_path)
            mv._emb_buffer  # init the track
            mv._emb_seed = spark.read.parquet(emb_path)
        ce_path = os.path.join(path, "chunk_embeddings.parquet")
        if os.path.exists(ce_path):
            spark.catalog.refreshByPath(ce_path)
            mv._chunk_emb_seed = spark.read.parquet(ce_path)
        sk_path = os.path.join(path, "sketches.parquet")
        if man.get("sketch_variant"):
            mv._sketch_variant = man["sketch_variant"]
        if os.path.exists(sk_path):
            spark.catalog.refreshByPath(sk_path)
            mv._sketches = spark.read.parquet(sk_path)
        for slot, vc in man.get("schemas", {}).items():
            mv._schema_reg[slot] = (vc[0], vc[1])
        if man.get("schema_strict"):
            mv._schema_strict = True
        mv._cards = [tuple(c) for c in man.get("cards", [])]
        mv._session_unenriched = {int(x) for x in man.get("unenriched", [])}
        mv._enrich_pending = [int(x) for x in man.get("enrich_queue", [])]
        if man.get("vector_compression", "none") != "none":
            mv._vec_compression = man["vector_compression"]
        mv._text_tier.open(path, man.get("ann"))
        mv._image_tier.open(path, man.get("img_ann"))
        if rebuild_dedup:
            # dedup registry stays DISTRIBUTED (mutation.rs:3302-3316
            # semantics, zero collect on the open path): a lazily
            # checkpointed sha projection over the active corpus; put()
            # probes it with a point filter and caches hits in the
            # session _shas set
            mv._sha_seed = (
                mv.docs()
                .select(F.sha2(mv.text_col, 256).alias("sha"))
                .localCheckpoint(eager=False)
            )
        mv._read_only = read_only
        mv._store_path = path
        return mv

    def _ensure_writable(self) -> None:
        if getattr(self, "_read_only", False):
            raise PermissionError("store opened read-only")

    # -- capacity tickets (ticket.rs:135-260, signature.rs) ----------------

    def bind(self, memory_id: str, trusted_pubkey_base64: str) -> None:
        """Bind this store to a control-plane identity: the memory id
        signed tickets must name, and the base64 Ed25519 key they must
        verify against (the reference embeds its own key at
        constants.rs:42; a rebuild takes the trust root explicitly)."""
        from .operators.tickets import parse_public_key_base64

        self._memory_id = memory_id
        self._trusted_pubkey = parse_public_key_base64(trusted_pubkey_base64)

    def apply_ticket(self, ticket) -> None:
        """Unsigned capacity ticket (deprecated surface, ticket.rs:135):
        sequence-monotonic, marked unverified."""
        from .operators import tickets as _t

        self._ticket = _t.apply_ticket(self._ticket, ticket)

    def apply_signed_ticket(self, ticket) -> None:
        """Signed capacity ticket (ticket.rs:189-260): requires bind(),
        a matching memory id, a verifying Ed25519 signature over the
        canonical payload, and a strictly increasing sequence."""
        from .operators import tickets as _t

        if self._trusted_pubkey is None:
            raise _t.TicketError(
                "cannot apply signed ticket: memory is not bound"
            )
        self._ticket = _t.apply_signed_ticket(
            self._ticket, ticket, self._trusted_pubkey, self._memory_id
        )

    def get_capacity(self) -> int:
        """Applied-ticket capacity, else the tier default
        (mutation.rs:2857-2863)."""
        from .operators.tickets import capacity_limit

        return capacity_limit(self._ticket, self._tier)

    # -- memory binding admin (lifecycle.rs:799-880) -----------------------

    def get_memory_binding(self) -> dict | None:
        """The current binding, or None when unbound
        (get_memory_binding, lifecycle.rs:799-801)."""
        if self._memory_id is None:
            return None
        return {
            "memory_id": self._memory_id,
            "verified": self._ticket.verified,
            "has_trust_root": self._trusted_pubkey is not None,
        }

    def set_memory_binding_only(
        self, memory_id: str, trusted_pubkey_base64: str | None = None
    ) -> None:
        """Bind WITHOUT applying a ticket — the caller follows up with
        apply_signed_ticket (set_memory_binding_only,
        lifecycle.rs:846-867). Rebinding to a different memory raises,
        like MemoryAlreadyBound."""
        self._ensure_writable()
        if self._memory_id is not None and self._memory_id != memory_id:
            raise ValueError(
                f"memory already bound to {self._memory_id!r}; unbind first"
            )
        self._memory_id = memory_id
        if trusted_pubkey_base64 is not None:
            from .operators.tickets import parse_public_key_base64

            self._trusted_pubkey = parse_public_key_base64(trusted_pubkey_base64)

    def unbind_memory(self) -> None:
        """Clear the binding and revert to free-tier capacity
        (unbind_memory, lifecycle.rs:871-880)."""
        self._ensure_writable()
        from .operators.tickets import TicketRef

        self._memory_id = None
        self._trusted_pubkey = None
        self._ticket = TicketRef(issuer="free-tier", seq_no=1, verified=False)
        self._tier = "free"

    # -- batch ingestion + commit (mutation.rs:752-930) --------------------
    #
    # The reference's batch mode amortizes per-append WAL fsyncs and
    # suppresses auto-checkpoints; the Spark analogue of that deferred
    # bookkeeping is derived-table maintenance (the sketch track): in
    # batch mode a built track goes stale per put and is extended ONCE
    # at end_batch — one delta job for the whole batch. commit() is the
    # persist step (save + derived refresh); commit_skip_indexes
    # persists content only and clears derived manifests;
    # finalize_indexes is the one-pass O(n) rebuild.

    def in_batch(self) -> bool:
        return getattr(self, "_batch_mode", False)

    def begin_batch(self) -> None:
        """(begin_batch, mutation.rs:767-774)"""
        self._ensure_writable()
        if self.in_batch():
            raise RuntimeError("already in batch mode")
        self._batch_mode = True

    def end_batch(self) -> int:
        """Exit batch mode (end_batch, mutation.rs:825-831). If a
        sketch track was built before the batch, it extends here with
        one incremental job covering every frame the batch added;
        returns that count (0 otherwise)."""
        if not self.in_batch():
            raise RuntimeError("not in batch mode")
        self._batch_mode = False
        if self._sketch_df() is not None:
            return self.build_all_sketches(
                getattr(self, "_sketch_variant", "small")
            )
        return 0

    def commit(self, path: str | None = None) -> None:
        """Persist content AND refresh derived state (commit,
        mutation.rs:752-755): save() to the store's path, then extend
        an existing sketch track with any unsketched frames."""
        self._ensure_writable()
        target = path or getattr(self, "_store_path", None)
        if target is None:
            raise ValueError("no store path: pass one or save()/open() first")
        self.save(target)
        if self._sketch_df() is not None and not self.in_batch():
            self.build_all_sketches(getattr(self, "_sketch_variant", "small"))

    def commit_skip_indexes(self, path: str | None = None) -> None:
        """Bulk-ingest commit: persist payloads/frames only and clear
        the derived track so stale state can't be read
        (commit_skip_indexes, mutation.rs:839-909); follow with
        :meth:`finalize_indexes`."""
        self._ensure_writable()
        target = path or getattr(self, "_store_path", None)
        if target is None:
            raise ValueError("no store path: pass one or save()/open() first")
        # clear BEFORE save: save() persists the sketch track with the
        # store, and a skip-indexes commit must not ship a stale one
        self._sketches = None
        self.save(target)

    def finalize_indexes(self, variant: str = "small") -> int:
        """One O(n) rebuild of the derived track after bulk ingestion
        (finalize_indexes, mutation.rs:913-921); returns the number of
        sketch entries built."""
        self._ensure_writable()
        self._sketches = None
        return self.build_all_sketches(variant)

    # -- stats (ticket.rs:8-123, frame.rs:92-145) --------------------------

    def stats(self) -> dict:
        """Corpus + storage report. One aggregate over the frame log
        computes the corpus counts and active payload footprint; the
        capacity block mirrors ticket.rs stats() (utilisation meters the
        ingest tier — seed tables live in external storage whose at-rest
        compression parquet owns, so stored == logical here and the
        zstd-savings fields of the reference's file format are reported
        as the identity)."""
        fr = self.frames()
        active = F.col("status") == "active"
        row = fr.agg(
            F.count("*").alias("frame_count"),
            F.sum(active.cast("long")).alias("n_docs"),
            F.sum(F.when(active, token_count(self.text_col)).otherwise(0))
            .alias("n_tokens"),
            F.round(
                F.avg(F.when(active, quality_score(self.text_col))), 4
            ).alias("avg_quality"),
            F.sum(
                F.when(active, F.octet_length(self.text_col)).otherwise(0)
            ).alias("text_bytes"),
        ).head()
        if self._has_media():
            mrow = self.media().agg(
                F.sum(F.octet_length("payload")).alias("media_bytes"),
                F.sum(
                    F.col("mime").startswith("image/").cast("long")
                ).alias("n_images"),
            ).head()
            media_bytes = int(mrow["media_bytes"] or 0)
            clip_image_count = int(mrow["n_images"] or 0)
        else:
            media_bytes = 0
            clip_image_count = 0
        payload_bytes = int(row["text_bytes"] or 0) + media_bytes
        capacity = self.get_capacity()
        n_active = int(row["n_docs"] or 0)
        return {
            "n_docs": n_active,
            "n_tokens": row["n_tokens"] or 0,
            "avg_quality": row["avg_quality"],
            "n_tombstones": len(self._tombstones),
            "frame_count": int(row["frame_count"] or 0),
            "active_frame_count": n_active,
            "payload_bytes": payload_bytes,
            "logical_bytes": payload_bytes,
            "saved_bytes": 0,
            "compression_ratio_percent": 100.0,
            "savings_percent": 0.0,
            "average_frame_payload_bytes": (
                payload_bytes // n_active if n_active else 0
            ),
            "tier": self._tier,
            "capacity_bytes": capacity,
            "remaining_capacity_bytes": max(capacity - self._payload_tail, 0),
            "storage_utilisation_percent": round(
                self._payload_tail / capacity * 100, 2
            )
            if capacity
            else 0.0,
            "seq_no": self._ticket.seq_no or None,
            "ticket_verified": self._ticket.verified,
            "clip_image_count": clip_image_count,
            # serving tiers (None when not built): mirrors the text
            # tier's n_cells surfacing; a 100 TB operator reads these
            # to schedule retrains next to the drift policy
            "ann": self._text_tier.stats(),
            "img_ann": self._image_tier.stats(),
        }
