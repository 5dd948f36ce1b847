"""Seeded input generation for the benchmark workloads, cached on disk.

Every input a run hands the program is a pure function of
``(workload, seed, GEN_VERSION)``. Generated inputs are cached under
``<cache_root>/<workload>-s<seed>-v<GEN_VERSION>/`` and written to a
temporary directory first, then renamed, so a run that is killed never
leaves a half-written cache entry behind. Generation happens before the
session starts: it is neither timed nor part of ``setup_s``.

The document model follows the repository's synthetic test corpus: a
30-word vocabulary drawn uniformly, 10-100 tokens per document, five
languages, twenty sources and 5% planted near-duplicates (an earlier
document's text plus the token ``dup``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3  # bump whenever generated inputs change

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# serve_mixed sizes
SERVE_DOCS = 5000
SERVE_DIM = 64
SERVE_CLUSTERS = 16
SERVE_CLUSTER_NOISE = 0.05  # per-dimension sigma around a unit centre
SERVE_BLOCKS = 300  # request blocks; far more than a run uses
# One block = 10 requests: 40% search, 30% ann, 20% ask, 10% write. The
# order is the same in every block and for every seed, so any window of
# the stream holds the same mix whatever the seed; the seed draws the
# request contents (terms, vectors, written documents).
BLOCK = ["search", "ann", "ask", "search", "ann", "write", "search", "ann", "ask", "search"]
WARMUP = ["search", "ann", "ask", "write"]  # untimed, one of each type
WRITE_DOCS = 10  # puts (and vectors) per write request
SEARCH_K = 10
ANN_K = 10
ASK_K = 5

# curate sizes: BASE documents blown up CURATE_COPIES times
CURATE_BASE_DOCS = 250
CURATE_COPIES = 10
CURATE_FILES = 16  # parquet part files, so the scan is not one split


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lens.sum())]
    out, o = [], 0
    for ln in lens:
        out.append(" ".join(words[o:o + ln]))
        o += ln
    # planted near-duplicates: 5% of documents repeat an earlier text + "dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """The documents table (doc_id, text, lang, source, n_chars)."""
    texts = _texts(rng, n)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def blow_up(base: pd.DataFrame, copies: int) -> pd.DataFrame:
    """``copies`` genuinely distinct copies of ``base``: copy c > 0 gets
    doc ids shifted by c * n and a copy-specific marker token before every
    second token, so every word trigram of a copy holds a marker and
    cross-copy shingle overlap is zero. Near-duplicate miners then see a
    corpus ``copies`` times larger with linear, not quadratic, candidate
    growth (the same construction as the repository's scale probes)."""
    n = int(base["doc_id"].max()) + 1
    parts = [base]
    for c in range(1, copies):
        texts = []
        for t in base["text"]:
            toks = t.split(" ")
            woven = []
            for i, w in enumerate(toks):
                if i % 2 == 0:
                    woven.append(f"c{c}m{i}")
                woven.append(w)
            texts.append(" ".join(woven))
        part = base.copy()
        part["doc_id"] = base["doc_id"] + c * n
        part["text"] = texts
        part["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def unit_vectors(rng: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    x = centres[rng.integers(0, len(centres), n)]
    x = x + SERVE_CLUSTER_NOISE * rng.normal(size=x.shape)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _search_query(rng: np.random.Generator, form: int) -> dict:
    w = [VOCAB[i] for i in rng.choice(len(VOCAB), 3, replace=False)]
    if form == 0:
        return {"q": w[0], "any": [[w[0]]]}
    if form == 1:
        return {"q": f"{w[0]} AND {w[1]}", "any": [[w[0], w[1]]]}
    if form == 2:
        return {"q": f"{w[0]} OR {w[1]}", "any": [[w[0]], [w[1]]]}
    if form == 3:
        return {"q": f'"{w[0]} {w[1]}" {w[2]}', "any": [[w[2]]],
                "phrase": f"{w[0]} {w[1]}"}
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    return {"q": f"lang:{lang} {w[0]}", "any": [[w[0]]], "lang": lang}


def serve_requests(rng: np.random.Generator, centres: np.ndarray, seed: int) -> list[dict]:
    """The request stream: the WARMUP requests, then SERVE_BLOCKS
    blocks. Search forms rotate through five query shapes. The first
    search after a write looks up a token unique to a just-written
    document (the read-your-writes probe). A search's ``any`` is its
    predicate in disjunctive form over tokens, for the result check."""
    reqs, form, pending_probe, n_write = [], 0, None, 0
    for kind in WARMUP + BLOCK * SERVE_BLOCKS:
        if kind == "search":
            if pending_probe is not None:
                r = {"op": "search", "q": pending_probe,
                     "any": [[pending_probe]], "probe": True}
                pending_probe = None
            else:
                r = {"op": "search", **_search_query(rng, form % 5)}
                form += 1
        elif kind in ("ann", "ask"):
            v = unit_vectors(rng, centres, 1)[0]
            r = {"op": kind, "vec": [float(x) for x in v]}
            if kind == "ask":
                w = [VOCAB[i] for i in rng.choice(len(VOCAB), 2, replace=False)]
                r["question"] = f"how does {w[0]} {w[1]} work"
        else:
            vecs = unit_vectors(rng, centres, WRITE_DOCS)
            docs = []
            for j in range(WRITE_DOCS):
                tok = f"u{seed}w{n_write}d{j}"
                words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 8)]
                docs.append({"text": " ".join([tok] + words),
                             "vec": [float(x) for x in vecs[j]]})
            r = {"op": "write", "docs": docs}
            pending_probe = f"u{seed}w{n_write}d0"
            n_write += 1
        reqs.append(r)
    return reqs


def _write_parquet(df: pd.DataFrame, path: str, files: int = 1) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def _build_serve(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    docs = documents(rng, SERVE_DOCS)
    centres = rng.normal(size=(SERVE_CLUSTERS, SERVE_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = unit_vectors(rng, centres, SERVE_DOCS)
    _write_parquet(docs, os.path.join(out, "documents.parquet"))
    np.save(os.path.join(out, "vectors.npy"), vecs)
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump(serve_requests(rng, centres, seed), f)


def _build_curate(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    docs = blow_up(documents(rng, CURATE_BASE_DOCS), CURATE_COPIES)
    _write_parquet(docs, os.path.join(out, "documents.parquet"), CURATE_FILES)


BUILDERS = {"serve_mixed": _build_serve, "curate": _build_curate}


def inputs(workload: str, seed: int, cache_root: str) -> str:
    """Directory holding the generated inputs of ``workload`` at ``seed``,
    generated on first use."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        BUILDERS[workload](tmp, seed)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
