"""ANN artifact persistence: save/load the small trained state every
approximate index depends on — PQ codebooks, IVF centroids, SRP
hyperplanes — so training happens ONCE and sessions reuse it.

The reference persists its vector index inside the .mv2 container
(src/vec.rs index segments; codebooks in the PQ header) and reopens it
mmap-style. Here the analogue is: the trained artifacts are a few
kilobytes of floats (never corpus-sized), so they serialize to a JSON
envelope on any filesystem the driver can reach; the ENCODED corpus
(PQ codes, cell assignments) is ordinary DataFrame output and persists
as parquet like every other derived table.

Scale posture (100 TB): training samples are bounded (65k vectors) and
artifacts are O(k·dim) — broadcastable by construction. Persisting them
means a nightly re-encode job, or a new session's query path, never
re-runs Lloyd's; the artifact version field makes codebook/corpus
compatibility checkable before an incompatible ADC scan silently
degrades recall.
"""

from __future__ import annotations

import json
import os

from ..session import local_frame

ARTIFACT_VERSION = 1


def _envelope(kind: str, params: dict, data) -> dict:
    return {
        "version": ARTIFACT_VERSION,
        "kind": kind,
        "params": params,
        "data": data,
    }


def _load(path: str, kind: str) -> dict:
    with open(path, encoding="utf-8") as f:
        env = json.load(f)
    if env.get("version") != ARTIFACT_VERSION:
        raise ValueError(
            f"unsupported ANN artifact version {env.get('version')!r}"
        )
    if env.get("kind") != kind:
        raise ValueError(
            f"artifact at {path} is {env.get('kind')!r}, expected {kind!r}"
        )
    return env


def _write(path: str, env: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(env, f)
    os.replace(tmp, path)  # atomic on POSIX — no torn artifact


def save_pq(model, path: str) -> None:
    """Persist a PQModel's codebooks."""
    _write(
        path,
        _envelope(
            "pq",
            {"n_sub": model.n_sub, "sub_dim": model.sub_dim, "k": model.k},
            model.centroids,
        ),
    )


def load_pq(path: str):
    from .pq import PQModel

    env = _load(path, "pq")
    p = env["params"]
    return PQModel(
        n_sub=p["n_sub"], sub_dim=p["sub_dim"], k=p["k"],
        centroids=env["data"],
    )


def save_centroids(centroids_df, path: str) -> None:
    """Persist IVF centroids ((centroid_id, centroid) DataFrame — a
    k-row broadcast table, collected intentionally)."""
    rows = sorted(
        (int(r.centroid_id), [float(x) for x in r.centroid])
        for r in centroids_df.collect()
    )
    dim = len(rows[0][1]) if rows else 0
    _write(
        path, _envelope("ivf", {"n_cells": len(rows), "dim": dim}, rows)
    )


def load_centroids(spark, path: str):
    env = _load(path, "ivf")
    return local_frame(
        spark,
        [(i, c) for i, c in env["data"]],
        "centroid_id int, centroid array<double>",
    )


def save_hyperplanes(planes: list[list[float]], path: str) -> None:
    """Persist SRP-LSH hyperplanes (the bucketing function — queries
    and corpus MUST hash with the same planes or buckets diverge)."""
    dim = len(planes[0]) if planes else 0
    _write(
        path,
        _envelope("srp", {"n_planes": len(planes), "dim": dim}, planes),
    )


def load_hyperplanes(path: str) -> list[list[float]]:
    return _load(path, "srp")["data"]


def save_sq8(model, path: str) -> None:
    """Persist an SQ8 model (operators/pq.py SQ8Model) in the versioned
    envelope."""
    _write(path, _envelope(
        "sq8", {"dim": len(model.mins)},
        {"mins": model.mins, "scales": model.scales},
    ))


def load_sq8(path: str):
    from .pq import SQ8Model

    env = _load(path, "sq8")
    d = env["data"]
    return SQ8Model(mins=list(map(float, d["mins"])),
                    scales=list(map(float, d["scales"])))
