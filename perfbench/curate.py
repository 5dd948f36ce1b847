"""curate: a one-shot corpus-curation batch.

Set-up (timed as ``setup_s``): start a fresh session and run a first
trivial job. The timed region runs the seven curation pipelines of the
query registry once each, cold, over the generated corpus, collecting
each output to the client; pinned checkpoints are released between
pipelines, as a batch scheduler running them as separate jobs would.

Check (untimed): each output equals its registry DuckDB oracle run on
the same generated parquet, compared column-name-sorted as a row
multiset (the comparison the repository's oracle checks use).
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from datetime import date, datetime
from decimal import ROUND_HALF_UP, Decimal

from perfbench.metrics import CURATE_QUERIES, LAYERS
from perfbench.stats import timing
from perfbench.trace import (
    JobGroups, Tracer, cpu_split, jvm_rss_peak_mb, read_event_log, sum_groups,
)


def run(ctx, inputs: str) -> dict:
    tracer = Tracer(ctx.trace)
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = ctx.start_spark()
    groups = JobGroups(spark, ctx.trace)
    try:
        with groups.group("setup"):
            spark.range(1000).count()
        ctx.count("setup", True)
        setup_s = time.perf_counter() - t_setup

        from memvid_spark import catalog, registry

        tracer.wrap(catalog, "load", "catalog.load")
        fns = {s.name: s.fn for s in registry.SPECS}
        walls, outputs = {}, {}
        cpu0 = cpu_split()
        for qi, q in enumerate(CURATE_QUERIES):
            gid = tracer.request = f"t{qi}"
            t0 = time.perf_counter()
            try:
                with groups.group(gid):
                    with tracer.span(f"registry.{q}.construct"):
                        df = fns[q](spark, inputs)
                    if ctx.trace:
                        with tracer.span(f"registry.{q}.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span(f"registry.{q}.exec"):
                        rows = df.collect()
                walls[q] = time.perf_counter() - t0
                outputs[q] = (df.columns, [tuple(r) for r in rows])
                ctx.count("timed", True)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ctx.count("timed", False)
            pinned = len(spark.sparkContext._jsc.getPersistentRDDs())
            for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)
        cpu1 = cpu_split()
        tracer.request = None
        rss = jvm_rss_peak_mb()
    finally:
        tracer.unwrap_all()
        ctx.stop_spark(spark)

    _check(ctx, inputs, outputs)

    w = list(walls.values())
    cpu_s = sum(cpu1.values()) - sum(cpu0.values())
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_ms": (sum(w) * 1e3 / len(w) if w else 0.0, "ms"),
        "ops_per_s": (len(w) / sum(w) if w else 0.0, "1/s"),
        "cpu_ms_per_op": (cpu_s * 1e3 / max(1, len(w)), "ms"),
    }
    timings = {"setup_s": timing([setup_s], "s"), "pipeline_ms": timing(w, "ms", 1e3)}
    timings.update({f"{q}_s": timing([walls[q]], "s") for q in walls})
    extra = {
        "curate_wall_s": sum(w),
        "curate_cpu_s": (cpu1["jvm"] + cpu1["python_workers"])
        - (cpu0["jvm"] + cpu0["python_workers"]),
        "timed_cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu1},
        "sizes": {"documents": _doc_count(inputs), "pipelines": len(CURATE_QUERIES)},
        "output_rows": {q: len(outputs[q][1]) for q in outputs},
    }
    layers = {}
    if ctx.trace:
        d = tracer.durations
        ev = read_event_log(ctx.event_log)
        timed = sum_groups(ev, "t")
        vals = {
            "session.start_s": sum(d("session.start")),
            "catalog.load_ms": sum(d("catalog.load")) * 1e3,
            "spark.jobs": timed.get("jobs", 0),
            "spark.tasks": timed.get("tasks", 0),
            "spark.executor_cpu_s": timed.get("executor_cpu_s", 0.0),
            "spark.python_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
            "spark.shuffle_write_mb": timed.get("shuffle_write_mb", 0.0),
            "spark.spill_mb": timed.get("spill_mb", 0.0),
            "spark.gc_s": timed.get("gc_s", 0.0),
            "spark.jobs_per_request": timed.get("jobs", 0) / len(CURATE_QUERIES),
            "spark.pinned_rdds_end": pinned,
            "driver.rss_peak_mb": rss,
            "trace.spans": len(tracer.spans),
        }
        for qi, q in enumerate(CURATE_QUERIES):
            g = ev.get(f"t{qi}", {})
            for part in ("construct", "plan", "exec"):
                vals[f"registry.{q}.{part}_s"] = sum(d(f"registry.{q}.{part}"))
            vals[f"registry.{q}.jobs"] = groups.jobs.get(f"t{qi}", 0)
            vals[f"registry.{q}.shuffle_mb"] = g.get("shuffle_write_mb", 0.0)
        for name, (v, _) in e2e.items():
            vals[f"traced.{name}"] = v
        layers = {n: (vals.get(n, 0.0), u) for n, u, _, _, _ in LAYERS}
        tracer.dump(ctx.trace_file())
    return ctx.result(e2e, layers, timings, extra)


def _doc_count(inputs: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetDataset(os.path.join(inputs, "documents.parquet")).read(
        columns=["doc_id"]).num_rows


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _q158_exact_avg(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """q158's ``avg_lp`` recomputed from the oracle's own exact integer
    columns as lp_sum_micro / n_big / 1e6 rounded half-up to 6 places.
    The program rounds that exact quotient; the DuckDB twin rounds its
    binary double, so at an exact half-micro quotient the two differ in
    the last place. The integer columns are still compared as they are."""
    c, a, b = cols.index("avg_lp"), cols.index("lp_sum_micro"), cols.index("n_big")
    out = []
    for r in rows:
        r = list(r)
        q = Decimal(r[a]) / Decimal(r[b]) / Decimal(10**6)
        r[c] = float(q.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))
        out.append(tuple(r))
    return out


def _check(ctx, inputs: str, outputs: dict) -> None:
    import duckdb

    from memvid_spark import registry

    oracles = {s.name: s.oracle for s in registry.SPECS}
    con = duckdb.connect(config={"threads": ctx.cpus})
    con.execute(f"SET temp_directory='{os.path.join(ctx.dir, 'duckdb')}'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(inputs, 'documents.parquet', '*.parquet')}')"
    )
    try:
        for q in CURATE_QUERIES:
            if q not in outputs:
                continue  # already counted as a failed operation
            cols, rows = outputs[q]
            try:
                res = con.sql(oracles[q])
                want_cols, want = res.columns, res.fetchall()
            except duckdb.Error:
                traceback.print_exc(file=sys.stderr)
                ctx.check(f"oracle.{q}", False, {"oracle": "failed"})
                continue
            same_cols = sorted(cols) == sorted(want_cols)
            if same_cols and q == "q158_lm_perplexity":
                want = _q158_exact_avg(want_cols, want)
            ok = same_cols and _rows(cols, rows) == _rows(want_cols, want)
            ctx.check(f"oracle.{q}", ok, {"rows": len(rows), "columns_match": same_cols})
    finally:
        con.close()
