"""Vector (embedding) column functions over array<float>.

Two forms of the same math:

* Column expressions (``dot``, ``l2_norm``, ``cosine_similarity``,
  ``sign_bucket``, the sparse JL projection) — ``zip_with``/``aggregate``
  higher-order functions, JVM-side sequential folds that stay in
  Tungsten with no Python hop.
* Arrow UDF kernels (``seq_cosine_udf`` and the operators in
  ``operators/similarity.py``) for the hot paths where a numpy matmul
  per batch beats the interpreted per-element lambda.

The Arrow kernels cross the Python boundary through exactly two
functions: :func:`vectors` turns a ``list``/``large_list`` vector
column into an ``(n, d)`` numpy matrix by reshaping its flat child
values (one offsets buffer plus one values buffer — no per-row work),
and :func:`vector_column` turns a matrix back into a ``list`` column
with one ``ListArray.from_arrays`` over uniform offsets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column


def vectors(arr: pa.Array | pa.ChunkedArray, dtype=np.float64) -> np.ndarray:
    """The ``(n, d)`` matrix of a ``list``/``large_list`` vector column.

    Slice offsets are respected; the flat child values are reshaped
    (zero-copy when they already have ``dtype``). Raises ``ValueError``
    on a null row, a null element, or rows of unequal length. An empty
    input gives a ``(0, 0)`` matrix."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0), dtype=dtype)
    if arr.null_count:
        raise ValueError("vector column has a null row")
    lens = np.diff(arr.offsets.to_numpy())
    if (lens != lens[0]).any():
        raise ValueError("vector column has rows of unequal length")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError("vector column has a null element")
    return flat.to_numpy(zero_copy_only=False).astype(dtype, copy=False).reshape(n, lens[0])


def vector_column(mat: np.ndarray, value_type: pa.DataType | None = None) -> pa.ListArray:
    """The ``list<value_type>`` column of an ``(n, d)`` matrix, one row
    per matrix row (``value_type`` None infers it from ``mat.dtype``)."""
    n, d = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int64) * d, type=pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=value_type))


def dot(a: Column, b: Column) -> Column:
    """Dot product with per-element cast to double; left-to-right fold
    so the result is bit-identical to a single-threaded oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def seq_cosine_udf():
    """Arrow-batched cosine over two vector columns, vectorized ACROSS
    rows but sequential ACROSS dimensions — i.e. per row it computes
    exactly the left-to-right double fold that :func:`dot` /
    ``list_dot_product`` compute, so results are bit-identical to the
    JVM fold and to the DuckDB oracle, at numpy speed.

    Use on pair-scoring hot paths (candidate verification) where the
    interpreted per-element lambda of the built-in fold dominates;
    the built-in stays the default for small row counts (no Arrow
    hop)."""
    @F.arrow_udf("double")
    def cos(a: pa.Array, b: pa.Array) -> pa.Array:
        A, B = vectors(a), vectors(b)
        n = A.shape[0]
        dab = np.zeros(n)
        daa = np.zeros(n)
        dbb = np.zeros(n)
        for i in range(A.shape[1]):  # sequential: fold-order parity
            dab = dab + A[:, i] * B[:, i]
            daa = daa + A[:, i] * A[:, i]
            dbb = dbb + B[:, i] * B[:, i]
        return pa.array(dab / (np.sqrt(daa) * np.sqrt(dbb)))

    return cos


def sign_bucket(a: Column, n_components: int) -> Column:
    """Coarse LSH bucket from the signs of the first ``n_components``
    vector components — the cheap IVF-style partitioner used by the
    bucketed ANN path (2^n buckets)."""
    bucket = F.lit(0)
    for i in range(n_components):
        bit = F.when(F.element_at(a, i + 1) > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket


# ---------------------------------------------------------------------------
# Sparse random projection (Achlioptas / Johnson-Lindenstrauss)
# ---------------------------------------------------------------------------

#: Default projected dimensionality for the JL transform.
RP_DIM_OUT = 8


def _rp_sign(i: int, j: int) -> int:
    """Sparse-JL matrix entry r[i][j] in {+1, 0, -1} with probability
    {1/6, 2/3, 1/6} (Achlioptas 2003), md5-derived from the (i, j)
    index alone so every engine — and the SQL oracle — regenerates the
    identical matrix with no matrix to ship or broadcast."""
    import hashlib

    m = int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:15], 16) % 6
    return 1 if m == 0 else (-1 if m == 5 else 0)


def random_projection_exprs(
    qvec_col: str, dim_in: int, dim_out: int = RP_DIM_OUT
) -> list[Column]:
    """Sparse JL projection of an int8-quantized vector (see
    ``operators.similarity.quantize_int8``) as ``dim_out`` integer
    Column expressions p0..p{dim_out-1}.

    All-integer arithmetic (entries in [-127,127], signs in {-1,0,1})
    makes every output EXACT — no float accumulation order to pin, so
    Spark, the SQL oracle, and any reassociating/FMA engine agree
    bit-for-bit. ~2/3 of the matrix is zero, so each output sums only
    ~dim_in/3 terms: pure whole-stage-codegen adds in the scan
    projection, no UDF, no shuffle. Distance distortion follows the JL
    lemma (scale by sqrt(3/dim_out) when absolute distances matter);
    downstream LSH banding / clustering run on dim_out components."""
    out = []
    for j in range(dim_out):
        acc = F.lit(0).cast("bigint")
        for i in range(dim_in):
            s = _rp_sign(i, j)
            if s == 1:
                acc = acc + F.element_at(qvec_col, i + 1)
            elif s == -1:
                acc = acc - F.element_at(qvec_col, i + 1)
        out.append(acc.alias(f"p{j}"))
    return out


def random_projection_sql(
    qvec_expr: str, dim_in: int, dim_out: int = RP_DIM_OUT
) -> str:
    """The oracle-side projection: same md5-derived sign matrix, same
    integer sums, as a select-list fragment."""
    cols = []
    for j in range(dim_out):
        terms = []
        for i in range(dim_in):
            s = _rp_sign(i, j)
            if s == 1:
                terms.append(f"+ {qvec_expr}[{i + 1}]")
            elif s == -1:
                terms.append(f"- {qvec_expr}[{i + 1}]")
        body = " ".join(terms) if terms else "0"
        cols.append(f"CAST(0 {body} AS BIGINT) AS p{j}")
    return ",\n       ".join(cols)
