"""Vector math over ``array<float|double>`` embedding columns.

Built-in higher-order functions (``aggregate``/``zip_with``) keep the
arithmetic JVM-side — no Python round trip — which is what makes
brute-force cosine top-k viable as the baseline ANN path at scale.

The numpy row kernel at the bottom (``stack_rows``, ``unit_rows``,
``cosine_rows``, ``top_n``) is the worker-side twin, for the operators
that score whole Arrow batches with one matmul instead (the IVF stages
in operators/ivf.py, semantic decontamination, the SemDeDup pair
stage).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM-side, no UDF)."""
    pairs = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (‖a‖·‖b‖); null-safe only insofar as inputs are non-empty."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def sq_norm(a: Column | str) -> Column:
    """Σ aᵢ² (no sqrt) — the cheap degenerate-vector test."""
    return F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def valid_vectors(
    df, vec_col: str = "embedding", positive_norm: bool = True
):
    """Drop degenerate vectors — the engine-wide contract (r14, found by
    the embeddings-table cross-engine fuzz):

      * NULL embeddings are unencodable and are dropped by every vector
        operator (also: DuckDB 1.0.0's list_dot_product ERRORS outright
        on parquet-read NULL lists, so an unfiltered oracle can't even
        evaluate them);
      * zero-norm vectors additionally drop from COSINE-based operators
        (cosine is 0/0 — Spark ANSI throws DIVIDE_BY_ZERO, DuckDB yields
        NULL, and NaN/NULL threshold comparisons are not portable:
        DuckDB orders NaN above all values). L2-based operators
        (euclidean LSH, k-means, PQ) keep zero vectors — their distances
        are well-defined.

    SQL mirror: ``WHERE embedding IS NOT NULL [AND
    list_dot_product(v, v) > 0]``.
    """
    out = df.filter(F.col(vec_col).isNotNull())
    if positive_norm:
        out = out.filter(sq_norm(vec_col) > 0.0)
    return out


#: Score of a zero-norm row against every column where a ranking must not
#: rest on 0/0: below the valid [-1, 1] cosine range, so the row passes
#: no realistic threshold and its ranking falls to the id order.
ZERO_NORM_SCORE = -2.0


def stack_rows(vectors, bad: str | None = None) -> np.ndarray:
    """An Arrow batch's vector column as a float64 matrix. With ``bad``
    set, a null or ragged vector raises ``ValueError(bad)`` instead of
    numpy's own error."""
    try:
        return np.stack(vectors).astype(np.float64)
    except (ValueError, TypeError) as exc:
        if bad is None:
            raise
        raise ValueError(bad) from exc


def unit_rows(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``x`` with every row scaled to unit L2 norm, plus the mask of its
    zero-norm rows (left all-zero, so they score 0.0 against anything)."""
    norm = np.sqrt((x * x).sum(axis=1, keepdims=True))
    zero = norm[:, 0] == 0.0
    norm[zero] = 1.0
    return x / norm, zero


def cosine_rows(
    x: np.ndarray, unit_t: np.ndarray, zero_score: float | None = None
) -> np.ndarray:
    """Cosine of every row of ``x`` against every column of ``unit_t``
    (unit rows, transposed): one BLAS matmul. ``zero_score`` replaces a
    zero-norm row's scores. The summation order differs from a
    sequential fold by ~1e-15 relative, immaterial at any realistic
    threshold margin."""
    u, zero = unit_rows(x)
    g = u @ unit_t
    if zero_score is not None:
        g[zero] = zero_score
    return g


def top_n(g: np.ndarray, ids: np.ndarray, n: int) -> np.ndarray:
    """Column positions of each row's best ``n`` scores, ranked
    (score DESC, id ASC): shape (rows, min(n, columns)). ``n == 1`` is
    an argmax, whose first maximum is the id tie-break when the columns
    are sorted by id; it skips the full per-row sort, which matters
    against a wide matrix (the broadcast decontamination path scores
    every batch against up to 100,000 eval rows)."""
    if n == 1:
        return g.argmax(axis=1)[:, None]
    return np.lexsort((np.broadcast_to(ids, g.shape), -g), axis=1)[:, :n]
