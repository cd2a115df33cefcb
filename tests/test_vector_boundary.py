"""The Arrow vector boundary of the similarity operators:
``vectors`` (list column -> (n, d) matrix) and ``vector_column``
(matrix -> list column), plus the matrix int8 quantizer they feed.

Reference for each is the per-row form they replaced: ``np.stack`` over
the pandas cells, and the one-vector ``_np_quantize_int8``."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from protarrow_spark.functions.vector import vector_column, vectors
from protarrow_spark.operators.similarity import _np_quantize_int8


def _row_stack(arr, dtype) -> np.ndarray:
    """The per-row matrix build: one numpy array per cell, stacked."""
    return np.stack([np.asarray(x, dtype=dtype) for x in arr.to_pandas().values])


def _row_quantize(vec) -> np.ndarray:
    """The one-vector quantizer: abs-max scale, zero guard, floor."""
    x = np.asarray(vec, dtype=np.float64)
    s = float(np.abs(x).max()) if x.size else 1.0
    if s == 0.0:
        s = 1.0
    return np.floor(x / s * 127 + 0.5).astype(np.int64)


_RNG = np.random.default_rng(14)
_MAT = _RNG.normal(size=(7, 5))


@pytest.mark.parametrize(
    "value_type, rows, dtype",
    [
        (pa.float32(), _MAT.astype(np.float32), np.float64),
        (pa.float64(), _MAT, np.float64),
        (pa.int64(), _RNG.integers(-127, 128, size=(7, 5)), np.int64),
    ],
)
def test_vectors_matches_row_stack(value_type, rows, dtype) -> None:
    arr = pa.array(rows.tolist(), type=pa.list_(value_type))
    got = vectors(arr, dtype)
    assert got.dtype == dtype
    assert np.array_equal(got, _row_stack(arr, dtype))
    sliced = arr.slice(2, 4)
    assert np.array_equal(vectors(sliced, dtype), _row_stack(sliced, dtype))
    chunked = pa.chunked_array([arr.slice(0, 3), arr.slice(3)])
    assert np.array_equal(vectors(chunked, dtype), _row_stack(arr, dtype))
    large = pa.array(rows.tolist(), type=pa.large_list(value_type))
    assert np.array_equal(vectors(large, dtype), got)


def test_vectors_empty_is_zero_by_zero() -> None:
    assert vectors(pa.array([], pa.list_(pa.float32()))).shape == (0, 0)
    assert vectors(pa.chunked_array([], pa.list_(pa.float64()))).shape == (0, 0)


@pytest.mark.parametrize(
    "rows",
    [
        [[1.0, 2.0], None],  # null row
        [[1.0, 2.0], [3.0, None]],  # null element
        [[1.0, 2.0], [3.0]],  # ragged lengths
    ],
)
def test_vectors_rejects_non_matrix_columns(rows) -> None:
    with pytest.raises(ValueError):
        vectors(pa.array(rows, pa.list_(pa.float64())))


def test_vectors_is_a_view_of_the_child_buffer() -> None:
    arr = pa.array(_MAT.tolist(), type=pa.list_(pa.float64()))
    got = vectors(arr)
    assert np.shares_memory(got, arr.values.to_numpy())


@pytest.mark.parametrize("value_type", [pa.float64(), pa.int64(), pa.int32()])
def test_vector_column_round_trips(value_type) -> None:
    m = (_MAT * 100).astype(value_type.to_pandas_dtype())
    col = vector_column(m, value_type)
    assert col.type == pa.list_(value_type)
    assert np.array_equal(vectors(col, m.dtype), m)
    assert vector_column(np.zeros((3, 0)), pa.float64()).to_pylist() == [[], [], []]


def test_matrix_quantizer_matches_row_quantizer_bitwise() -> None:
    rows = _RNG.normal(size=(256, 16)).astype(np.float32).astype(np.float64)
    rows[3] = 0.0  # all-zero row: scale guard
    rows[5, :4] = [2.5, -2.5, 1.25, -1.25]  # +-max ties and exact halves
    rows[5, 4:] = 0.0
    # Rows whose x / s * 127 sits on a .5 step under a random scale s:
    # there floor(x + 0.5) flips with any change of IEEE op order
    # (x * (127 / s) differs on ~1 in 6 of these elements).
    scale = _RNG.uniform(0.1, 10.0, size=(128, 1))
    steps = 2 * _RNG.integers(-127, 127, size=(128, 15)) + 1
    rows[128:] = np.concatenate([scale, scale * steps / 254], axis=1)
    got = _np_quantize_int8(rows)
    want = np.stack([_row_quantize(r) for r in rows])
    assert got.dtype == np.int64
    assert np.array_equal(got, want)
    assert not got[3].any()
    assert _np_quantize_int8(np.zeros((2, 0))).shape == (2, 0)
