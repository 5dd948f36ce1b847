"""Vector math as JVM-side Column expressions.

The reference's SIMD L2/cosine kernels (src/simd.rs:13-70,
src/memvid/ask.rs:815-830) map to Catalyst higher-order functions:
``zip_with`` + ``aggregate`` stay inside whole-stage codegen, which for
16–1024-dim float arrays beats Python round-trips by a wide margin and
needs no UDF. All math in double precision for cross-engine determinism.

For very wide vectors / heavy batch scoring there is a NumPy pandas-UDF
path in operators/knn.py; the expressions here are the correctness tier.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, functions as F


VecLike = "Column | str | Sequence[float]"


def lit_vector(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _as_double_array(col) -> Column:
    if isinstance(col, (list, tuple)):
        return lit_vector(col)
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _sql_operand(col) -> str | None:
    """SQL text for a column name or a literal vector; None for Column
    objects (no stable SQL extractor — those keep the Column path) and
    for vectors with a non-finite component (``inf``/``nan`` have no
    SQL double literal; lit_vector embeds them). repr(float) is the
    shortest round-trip form and Spark's parser (Java
    Double.parseDouble) is correctly rounded, so the parsed literal is
    bit-identical to what F.lit would embed."""
    if isinstance(col, (list, tuple)):
        vals = [float(v) for v in col]
        if not all(math.isfinite(v) for v in vals):
            return None
        return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"
    if isinstance(col, str) and "`" not in col:
        return f"CAST(`{col}` AS ARRAY<DOUBLE>)"
    return None


def _dot_sql(asql: str, bsql: str) -> str:
    return (
        f"aggregate(zip_with({asql}, {bsql}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def dot(a, b) -> Column:
    """Sequential-fold dot product (same accumulation order as a scalar
    loop, so DuckDB's list_dot_product reproduces it).

    Built as ONE F.expr string when both operands are column names or
    literal vectors (round 12): the stacked-Column zip_with/aggregate
    lambdas cost tens of py4j round trips per call — pure driver-side
    construction time; the parsed tree and runtime are identical."""
    asql, bsql = _sql_operand(a), _sql_operand(b)
    if asql is not None and bsql is not None:
        return F.expr(_dot_sql(asql, bsql))
    av, bv = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a) -> Column:
    asql = _sql_operand(a)
    if asql is not None:
        return F.expr(f"sqrt({_dot_sql(asql, asql)})")
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    """cosine similarity; NULL when either norm is 0."""
    asql, bsql = _sql_operand(a), _sql_operand(b)
    if asql is not None and bsql is not None:
        return F.expr(
            f"{_dot_sql(asql, bsql)} / nullif("
            f"sqrt({_dot_sql(asql, asql)}) * sqrt({_dot_sql(bsql, bsql)}),"
            f" 0.0D)"
        )
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def l2(a, b) -> Column:
    av, bv = _as_double_array(a), _as_double_array(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(av, bv, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def lloyd_kmeans(X, k: int, seed: int = 42, max_iter: int = 10):
    """Vectorized Lloyd's over an in-memory sample (NumPy): deterministic
    init from k distinct sample rows, argmin assignment via one distance
    matrix per round. The codebook-training kernel shared by PQ
    (operators/pq.py) and IVF (operators/knn.py) — at scale the corpus
    never feeds the trainer, a bounded sample does, and the KB-scale
    centroids broadcast to the scan."""
    import numpy as np

    X = np.asarray(X, dtype="float64")
    if X.size == 0:
        raise ValueError("lloyd_kmeans: empty training sample")
    if X.ndim == 1:
        X = X.reshape(1, -1)
    # Fewer sample rows than requested centroids: train what we can.
    # Callers (PQModel / IVF) must size k from the returned array, not
    # the requested k.
    rng = np.random.default_rng(seed)
    init_idx = rng.choice(len(X), size=min(k, len(X)), replace=False)
    C = X[init_idx].copy()
    # ||x||^2 - 2xC^T + ||c||^2 (BLAS) instead of broadcasting an
    # (n, k, dim) difference tensor: the tensor form allocates
    # n*k*dim*8 bytes per iteration (~410 MB/iter for a 64k x 16 x 64
    # sample) and measured ~12 s per train_pq call at the 10x probe;
    # the matmul form is sub-second on the same input.
    x2 = (X * X).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d2 = x2 - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C
