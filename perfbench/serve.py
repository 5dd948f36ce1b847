"""serve_mixed: one closed-loop client, no think time, against one
long-lived ``MemvidSpark`` store.

Set-up (timed as ``setup_s``): start the session, build the store over
the generated documents, add one vector per document, build the ANN
serving tier, ``save`` and ``open`` it, then send one untimed warm-up
request of each type. The timed region replays the seeded request
stream (blocks of 40% search, 30% ANN vector search, 20% ask with a
query vector, 10% writes, in a fixed order) until ``seconds`` have
passed, then finishes the block in progress, so every run serves whole
blocks and the same operation mix. Pinned checkpoints are never
released between requests, as in a long-lived facade.

Checks (untimed, from the responses kept during the run): every
response has at most k rows and only ids present in the store; every
search hit satisfies the query predicate and a page is short only when
fewer documents match; the first search after a write finds the
written document (read-your-writes); each write's calls succeed; mean
ANN recall@10 against exact L2 search over the vectors present at the
time of each request is at least 0.8.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.metrics import LAYERS
from perfbench.stats import timing
from perfbench.trace import (
    JobGroups, Tracer, cpu_split, jvm_rss_peak_mb, read_event_log, sum_groups,
)

# ANN tier: >= 10 cells so probing 4 of them prunes
TARGET_CELL_ROWS = 400
RECALL_MIN = 0.8
_TOKEN = re.compile(r"[^a-z0-9]+")


def _tokens(text: str) -> set[str]:
    return {t for t in _TOKEN.split(text.lower()) if t}


class Client:
    """Issues requests against the store; records per-layer spans and
    job groups when tracing."""

    def __init__(self, mv, tracer: Tracer, groups: JobGroups):
        self.mv = mv
        self.tracer = tracer
        self.groups = groups
        self.ops: dict[str, str] = {}  # request id -> op

    def request(self, r: dict):
        t, mv = self.tracer, self.mv
        op = r["op"]
        if op == "search":
            with t.span("api.search.construct"):
                df = mv.search(r["q"], top_k=gen.SEARCH_K)
            with t.span("api.search.exec"):
                return [row[0] for row in df.select("doc_id").collect()]
        if op == "ann":
            with t.span("api.ann.construct"):
                df = mv.search_embeddings(r["vec"], k=gen.ANN_K, ann=True)
            with t.span("api.ann.exec"):
                return [row[0] for row in df.select("vec_id").collect()]
        if op == "ask":
            with t.span("api.ask.construct"):
                res = mv.ask(r["question"], top_k=gen.ASK_K, query_vec=r["vec"])
            return [c[0] for c in res.citations]
        ids = []
        for d in r["docs"]:
            with t.span("api.put.construct"):
                ids.append(mv.put(d["text"], lang="en"))
        if any(i is None for i in ids):
            raise RuntimeError(f"put skipped a novel document: {ids}")
        for i, d in zip(ids, r["docs"]):
            with t.span("api.add_embeddings.construct"):
                if mv.add_embeddings([(i, d["vec"])]) != 1:
                    raise RuntimeError("add_embeddings did not add the vector")
        with t.span("api.refresh_ann.construct"):
            mv.refresh_ann_index()
        return ids

    def send(self, gid: str, r: dict):
        """(latency_s, response or None on failure)."""
        self.tracer.request = gid
        self.ops[gid] = r["op"]
        t0 = time.perf_counter()
        try:
            with self.groups.group(gid):
                out = self.request(r)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out = None
        dt = time.perf_counter() - t0
        self.tracer.request = None
        return dt, out


def _install_wrappers(tracer: Tracer) -> None:
    from memvid_spark import api
    from memvid_spark.operators import ask, hnsw, search

    tracer.wrap(api, "parse_query", "plans.parse")
    tracer.wrap(api, "compile_predicate", "plans.parse")
    tracer.wrap(search, "bm25_topk", "search.bm25_topk")
    tracer.wrap(ask, "ask", "ask.ask")
    tracer.wrap(hnsw, "nsw_knn_pruned", "hnsw.knn_pruned")
    tracer.wrap(hnsw, "apply_delta_ivf", "hnsw.apply_delta")
    tracer.wrap(hnsw, "ivf_needs_retrain", "hnsw.needs_retrain")
    tracer.wrap(hnsw, "train_cell_centroids", "hnsw.train")


def run(ctx, inputs: str) -> dict:
    docs = pd.read_parquet(os.path.join(inputs, "documents.parquet"))
    vecs = np.load(os.path.join(inputs, "vectors.npy"))
    with open(os.path.join(inputs, "requests.json")) as f:
        stream = json.load(f)
    warm, timed = stream[: len(gen.WARMUP)], stream[len(gen.WARMUP):]
    tracer = Tracer(ctx.trace)
    store = os.path.join(ctx.dir, "store")

    # -- set-up ---------------------------------------------------------
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = ctx.start_spark()
    groups = JobGroups(spark, ctx.trace)
    _install_wrappers(tracer)
    try:
        from memvid_spark.api import MemvidSpark

        tracer.request = "setup"
        with groups.group("setup"):
            mv = MemvidSpark(spark, seed=spark.read.parquet(
                os.path.join(inputs, "documents.parquet")))
            mv.add_embeddings([(int(i), v.tolist()) for i, v in enumerate(vecs)])
            with tracer.span("api.build_ann"):
                mv.build_ann_serving(target_cell_rows=TARGET_CELL_ROWS)
            with tracer.span("api.save"):
                mv.save(store)
            with tracer.span("api.open"):
                mv = MemvidSpark.open(spark, store)
        ctx.count("setup", True)
        ann = mv._ann_meta
        client = Client(mv, tracer, groups)
        log = []  # (request, response) in order, for the checks
        for i, r in enumerate(warm):
            _, out = client.send(f"w{i}", r)
            ctx.count("setup", out is not None)
            log.append((r, out))
        setup_s = time.perf_counter() - t_setup

        # -- timed region -------------------------------------------------
        lat = defaultdict(list)
        trail = []  # (op, ms) of every timed request, in order
        cpu0 = cpu_split()
        t0 = time.perf_counter()
        deadline = t0 + ctx.seconds
        i = 0
        while i < len(timed) and (i % len(gen.BLOCK) or time.perf_counter() < deadline):
            r = timed[i]
            dt, out = client.send(f"t{i}", r)
            ctx.count("timed", out is not None)
            if out is not None:
                lat[r["op"]].append(dt)
            trail.append((r["op"], round(dt * 1e3, 1)))
            log.append((r, out))
            i += 1
        wall = time.perf_counter() - t0
        cpu1 = cpu_split()
        n_done = i
        pinned = len(spark.sparkContext._jsc.getPersistentRDDs())
        rss = jvm_rss_peak_mb()
    finally:
        tracer.unwrap_all()
        ctx.stop_spark(spark)

    # -- checks -----------------------------------------------------------
    recall = _check(ctx, docs, vecs, log)

    reads = lat["search"] + lat["ann"] + lat["ask"]
    all_ops = reads + lat["write"]
    cpu_s = sum(cpu1.values()) - sum(cpu0.values())
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_ms": (_mix_latency(lat) * 1e3, "ms"),
        "ops_per_s": (len(all_ops) / wall, "1/s"),
        "cpu_ms_per_op": (cpu_s * 1e3 / max(1, len(all_ops)), "ms"),
    }
    timings = {
        "setup_s": timing([setup_s], "s"),
        "search_p50_ms": timing(lat["search"], "ms", 1e3),
        "ann_p50_ms": timing(lat["ann"], "ms", 1e3),
        "ask_p50_ms": timing(lat["ask"], "ms", 1e3),
        "write_p50_ms": timing(lat["write"], "ms", 1e3),
        "read_tail_ms": timing(reads, "ms", 1e3),
        "op_ms": timing(all_ops, "ms", 1e3),
    }
    extra = {
        "serve_ops_per_s": len(all_ops) / wall,
        "timed_wall_s": wall,
        "requests_sent": n_done,
        "request_ms": trail,
        "timed_cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu1},
        "sizes": {"documents": len(docs), "dim": int(vecs.shape[1]),
                  "ann_cells": ann["n_cells"], "probes": ann["probes"],
                  "written_docs": gen.WRITE_DOCS * sum(1 for r, _ in log if r["op"] == "write")},
        "recall_at_10": recall,
    }
    layers = {}
    if ctx.trace:
        layers = _layers(ctx, tracer, groups, client.ops, e2e, cpu0, cpu1, n_done, pinned,
                         rss, recall)
        tracer.dump(ctx.trace_file())
    return ctx.result(e2e, layers, timings, extra)


def _mix_latency(lat: dict) -> float:
    """Per-type median latency weighted by the type's share of BLOCK."""
    share = {op: gen.BLOCK.count(op) / len(gen.BLOCK) for op in set(gen.BLOCK)}
    seen = [op for op in share if lat[op]]
    total = sum(share[op] for op in seen)
    if not seen:
        return 0.0
    return sum(share[op] * statistics.median(lat[op]) for op in seen) / total


def _check(ctx, docs: pd.DataFrame, vecs: np.ndarray, log: list) -> float:
    """Run every response check; returns mean ANN recall@10."""
    text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    lang = dict(zip(docs["doc_id"].tolist(), docs["lang"].tolist()))
    toks = {i: _tokens(t) for i, t in text.items()}
    mat = vecs.astype(np.float64)
    vec_ids = list(range(len(vecs)))
    bad = defaultdict(int)
    recalls = []
    last_write = None
    for r, out in log:
        op = r["op"]
        if out is None:  # already counted as a failed operation
            if op == "write":
                last_write = None
            continue
        if op == "write":
            ids = out
            for i, d in zip(ids, r["docs"]):
                text[i], lang[i], toks[i] = d["text"], "en", _tokens(d["text"])
            mat = np.vstack([mat, np.array([d["vec"] for d in r["docs"]], dtype=np.float32)])
            vec_ids += ids
            last_write = ids
            continue
        k = {"search": gen.SEARCH_K, "ann": gen.ANN_K, "ask": gen.ASK_K}[op]
        ok = len(out) <= k and all(i in text for i in out)
        if op == "search":
            match = [i for i in text if _matches(r, toks[i], text[i], lang[i])]
            ok = ok and set(out) <= set(match) and len(out) == min(k, len(match))
            if r.get("probe") and last_write is not None:
                bad["read_your_writes"] += last_write[0] not in out
        if op == "ann":
            q = np.array(r["vec"], dtype=np.float32).astype(np.float64)
            d2 = ((mat - q) ** 2).sum(axis=1)
            exact = {vec_ids[j] for j in np.argsort(d2, kind="stable")[:k]}
            recalls.append(len(exact & set(out)) / k)
        bad["response_shape"] += not ok
    for name in ("response_shape", "read_your_writes"):
        ctx.check(name, bad[name] == 0, {"bad": bad[name]})
    recall = float(np.mean(recalls)) if recalls else 0.0
    ctx.check("ann_recall_at_10", recall >= RECALL_MIN,
              {"recall": recall, "min": RECALL_MIN, "queries": len(recalls)})
    return recall


def _matches(r: dict, toks: set, text: str, lang: str) -> bool:
    if "phrase" in r and r["phrase"] not in text.lower():
        return False
    if "lang" in r and lang != r["lang"]:
        return False
    return any(all(w in toks for w in conj) for conj in r["any"])


def _layers(ctx, tracer, groups, ops, e2e, cpu0, cpu1, n_done, pinned, rss, recall):
    def ms(xs: list[float]) -> float:
        return statistics.median(xs) * 1e3 if xs else 0.0

    d = tracer.durations
    ev = read_event_log(ctx.event_log)
    timed = sum_groups(ev, "t")
    ask_jobs = [n for gid, n in groups.jobs.items()
                if gid.startswith("t") and ops.get(gid) == "ask"]
    train = sum(d("hnsw.train", "setup"))
    build = sum(d("api.build_ann", "setup"))
    retrains = sum(1 for s in tracer.spans if s["name"] == "hnsw.train"
                   and (s["request"] or "").startswith("t"))
    vals = {
        "session.start_s": sum(d("session.start")),
        "api.search.construct_ms": ms(d("api.search.construct", "t")),
        "api.search.exec_ms": ms(d("api.search.exec", "t")),
        "api.ann.construct_ms": ms(d("api.ann.construct", "t")),
        "api.ann.exec_ms": ms(d("api.ann.exec", "t")),
        "api.ask.construct_ms": ms(d("api.ask.construct", "t")),
        "api.put.construct_ms": ms(d("api.put.construct", "t")),
        "api.add_embeddings.construct_ms": ms(d("api.add_embeddings.construct", "t")),
        "api.refresh_ann.construct_ms": ms(d("api.refresh_ann.construct", "t")),
        "api.build_ann_s": build,
        "api.save_s": sum(d("api.save", "setup")),
        "api.open_s": sum(d("api.open", "setup")),
        "plans.parse_ms": ms(tracer.per_request("plans.parse", "t")),
        "search.bm25_topk_ms": ms(d("search.bm25_topk", "t")),
        "ask.jobs": statistics.median(ask_jobs) if ask_jobs else 0.0,
        "ask.construct_ms": ms(d("ask.ask", "t")),
        "hnsw.knn_pruned_ms": ms(d("hnsw.knn_pruned", "t")),
        "hnsw.apply_delta_ms": ms(d("hnsw.apply_delta", "t")),
        "hnsw.retrains": retrains,
        "hnsw.needs_retrain_ms": ms(d("hnsw.needs_retrain", "t")),
        "hnsw.train_s": train,
        "hnsw.build_s": build - train,
        "hnsw.recall_at_10": recall,
        "spark.jobs": timed.get("jobs", 0),
        "spark.tasks": timed.get("tasks", 0),
        "spark.executor_cpu_s": timed.get("executor_cpu_s", 0.0),
        "spark.python_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
        "spark.shuffle_write_mb": timed.get("shuffle_write_mb", 0.0),
        "spark.spill_mb": timed.get("spill_mb", 0.0),
        "spark.gc_s": timed.get("gc_s", 0.0),
        "spark.jobs_per_request": timed.get("jobs", 0) / max(1, n_done),
        "spark.pinned_rdds_end": pinned,
        "driver.rss_peak_mb": rss,
        "trace.spans": len(tracer.spans),
    }
    for name, (v, _) in e2e.items():
        vals[f"traced.{name}"] = v
    return {n: (vals.get(n, 0.0), u) for n, u, _, _, _ in LAYERS}

