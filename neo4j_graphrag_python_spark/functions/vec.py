"""Fold-order vector kernels: the one implementation of the dot products
behind ANN bucketing, IVF cell probes, PQ codes and embedding LSH.

Every kernel replays Spark's interpreted fold
``aggregate(zip_with(v, m, (x, y) -> x * y), 0.0, (s, x) -> s + x)`` bit
for bit.  :func:`fold_dots` makes one rank-1 update per dimension, so each
dot adds the same rounded products in the same left-to-right order as the
JVM expression; a BLAS GEMM reorders the sums and can differ in the last
bits.  With equal bits, signs, argmaxes and ties agree too, so the
straight-line Python replicas behind the offline oracles stay exact.

Degenerate rows behave like the JVM expression as well.  A row is valid
when it is non-null, has exactly ``dim`` elements and no null element:
``zip_with`` pads a short side with nulls, and a null poisons the fold.
A NaN element is not degenerate.  It propagates through the sums, and
comparisons follow Spark's ordering, where NaN is above every number.

The column wrappers are Arrow UDFs rather than pandas UDFs because the
pandas conversion turns null elements into NaN, which the JVM expression
tells apart.  Arrow batches also arrive as one flat value buffer, so the
kernels never loop over rows in Python.  The UDFs are marked
nondeterministic although they are not: otherwise Catalyst pushes a
filter on their output (``bucket IN probes``) below the projection, and
the UDF runs twice, once in the filter and once in the projection.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, functions as F


def fold_sum(P: np.ndarray) -> np.ndarray:
    """Left fold ``0.0 + P[:, 0] + P[:, 1] + ...`` of each row."""
    acc = np.zeros(P.shape[0])
    for i in range(P.shape[1]):
        acc += P[:, i]
    return acc


def fold_dots(V, M) -> np.ndarray:
    """(n, d) × (k, d) → (n, k) dot products, each a left fold over d."""
    V, M = np.asarray(V, dtype=np.float64), np.asarray(M, dtype=np.float64)
    acc = np.zeros((V.shape[0], M.shape[0]))
    for i in range(V.shape[1]):
        acc += V[:, i, None] * M[:, i]
    return acc


def unit_rows(V: np.ndarray) -> np.ndarray:
    """Rows divided by their fold-order norm.  Rows of norm 0 pass through
    unchanged, like ``when(n > 0, v / n).otherwise(v)`` (NaN > 0 holds in
    Spark, so NaN rows are divided)."""
    n = np.sqrt(fold_sum(V * V))[:, None]
    scale = (n > 0) | np.isnan(n)
    return np.where(scale, V / np.where(scale, n, 1.0), V)


def sign_buckets(V, planes, per_table: int) -> np.ndarray:
    """(n, tables) bucket ids of multi-table hyperplane LSH.  Table t packs
    the signs of planes ``[t·m, (t+1)·m)``; bit i is set when
    ``<v, h_i> >= 0``, which a NaN dot satisfies in Spark."""
    dots = fold_dots(V, planes)
    bits = (dots >= 0) | np.isnan(dots)
    tables = len(planes) // per_table
    return bits.reshape(len(V), tables, per_table) @ (1 << np.arange(per_table))


def argmax_first(D: np.ndarray) -> np.ndarray:
    """Row-wise argmax, first index on ties.  Like ``array_max`` followed
    by ``array_position``, a NaN beats every number."""
    return np.argmax(D, axis=1)


def topn_first(D: np.ndarray, n: int) -> np.ndarray:
    """Indices of the n largest entries per row, ordered by
    ``(-value, index)`` with NaN first (Spark's ordering)."""
    nan = np.isnan(D)
    return np.lexsort((np.where(nan, 0.0, -D), ~nan), axis=1)[:, :n]


def pq_codes(V: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m) PQ codes: per subspace the first-wins ``argmax(dot − ½|c|²)``,
    the nearest codeword in L2."""
    sub = books[0].shape[1]
    return np.stack(
        [
            argmax_first(
                fold_dots(V[:, s * sub : (s + 1) * sub], B) - 0.5 * fold_sum(B * B)
            )
            for s, B in enumerate(books)
        ],
        axis=1,
    )


# ---------------------------------------------------------------------------
# Arrow UDF wrappers: one per kernel, each taking an array<double> column
# ---------------------------------------------------------------------------


def _valid_rows(arr: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(V, ok): the valid rows of a list<double> batch as an (n_ok, dim)
    matrix, and the mask of the batch rows they came from."""
    ok = np.array(
        pc.fill_null(pc.equal(pc.list_value_length(arr), dim), False), dtype=bool
    )
    flat = arr.filter(pa.array(ok)).flatten()
    V = flat.to_numpy(zero_copy_only=False).reshape(-1, dim)
    if flat.null_count:
        clean = ~np.array(flat.is_null(), dtype=bool).reshape(-1, dim).any(axis=1)
        ok[ok] = clean
        V = V[clean]
    return V, ok


def _lists(rows: np.ndarray, ok: np.ndarray | None = None) -> pa.Array:
    """(n, w) matrix → list array; rows where ``ok`` is False are null."""
    n, w = rows.shape
    offsets = pa.array(np.arange(0, n * w + 1, w, dtype=np.int32))
    mask = None if ok is None else pa.array(~ok)
    return pa.ListArray.from_arrays(offsets, pa.array(rows.ravel()), mask=mask)


def sign_buckets_col(vec: Column, planes, per_table: int) -> Column:
    """array<bigint> of per-table bucket ids (:func:`sign_buckets`).  A
    degenerate row gets bucket 0 in every table: each null dot fails
    ``>= 0``."""
    P = np.asarray(planes, dtype=np.float64)
    tables = len(P) // per_table

    @F.arrow_udf("array<bigint>")
    def buckets(arr: pa.Array) -> pa.Array:
        V, ok = _valid_rows(arr, P.shape[1])
        out = np.zeros((len(arr), tables), dtype=np.int64)
        out[ok] = sign_buckets(V, P, per_table)
        return _lists(out)

    return buckets.asNondeterministic()(vec)


def centroid_argmax_col(vec: Column, centroids) -> Column:
    """int index of the max-dot centroid (:func:`argmax_first`); null for
    a degenerate row, whose dots are all null."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.arrow_udf("int")
    def cell(arr: pa.Array) -> pa.Array:
        V, ok = _valid_rows(arr, C.shape[1])
        out = np.zeros(len(arr), dtype=np.int32)
        out[ok] = argmax_first(fold_dots(V, C))
        return pa.array(out, mask=~ok)

    return cell.asNondeterministic()(vec)


def centroid_topn_col(vec: Column, centroids, n: int) -> Column:
    """array<int> of the n max-dot centroids (:func:`topn_first`), so
    element 1 is the argmax cell.  A degenerate row gets ``[0, n)``: with
    every dot null, the ordering falls back to the index."""
    C = np.asarray(centroids, dtype=np.float64)
    n = min(n, len(C))

    @F.arrow_udf("array<int>")
    def probes(arr: pa.Array) -> pa.Array:
        V, ok = _valid_rows(arr, C.shape[1])
        out = np.tile(np.arange(n, dtype=np.int32), (len(arr), 1))
        out[ok] = topn_first(fold_dots(V, C), n)
        return _lists(out)

    return probes.asNondeterministic()(vec)


def pq_codes_col(vec: Column, codebooks) -> Column:
    """array<int> of the unit-normalized vector's PQ codes
    (:func:`pq_codes`); null for a degenerate row."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dim = len(books) * books[0].shape[1]

    @F.arrow_udf("array<int>")
    def codes(arr: pa.Array) -> pa.Array:
        V, ok = _valid_rows(arr, dim)
        out = np.zeros((len(arr), len(books)), dtype=np.int32)
        out[ok] = pq_codes(unit_rows(V), books)
        return _lists(out, ok)

    return codes.asNondeterministic()(vec)


def ivfpq_col(vec: Column, centroids, codebooks) -> Column:
    """struct<bucket int, codes array<int>>: the unit vector's argmax cell
    and the PQ codes of its residual ``v_unit − c_bucket``; null fields for
    a degenerate row."""
    C = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @F.arrow_udf("struct<bucket int, codes array<int>>")
    def assign(arr: pa.Array) -> pa.Array:
        V, ok = _valid_rows(arr, C.shape[1])
        U = unit_rows(V)
        bucket = np.zeros(len(arr), dtype=np.int32)
        bucket[ok] = argmax_first(fold_dots(U, C))
        codes = np.zeros((len(arr), len(books)), dtype=np.int32)
        codes[ok] = pq_codes(U - C[bucket[ok]], books)
        return pa.StructArray.from_arrays(
            [pa.array(bucket, mask=~ok), _lists(codes, ok)],
            names=["bucket", "codes"],
        )

    return assign.asNondeterministic()(vec)
