"""Fold-order vector kernels (functions/vec.py): properties against
straight-line Python, and degenerate-row parity with the JVM expressions
the kernels replaced."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neo4j_graphrag_python_spark.functions import vec


def _fold_dot(a, b) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def _matrices(elements, max_rows: int = 4):
    """(V, M): two row lists sharing one dimension in 1–64."""
    return st.integers(1, 64).flatmap(
        lambda d: st.tuples(
            st.lists(st.lists(elements, min_size=d, max_size=d), min_size=1, max_size=max_rows),
            st.lists(st.lists(elements, min_size=d, max_size=d), min_size=1, max_size=max_rows),
        )
    )


@pytest.mark.filterwarnings("ignore:overflow:RuntimeWarning")
@pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
@settings(max_examples=300, deadline=None)
@given(vm=_matrices(st.floats(allow_nan=False, allow_infinity=False)))
def test_fold_dots_bit_equal_to_left_fold(vm) -> None:
    V, M = vm
    got = vec.fold_dots(V, M)
    # float.hex tells -0.0 from 0.0; products of finite floats may
    # overflow to inf and the fold to NaN, which both sides must share
    assert [[x.hex() for x in row] for row in got.tolist()] == [
        [_fold_dot(v, m).hex() for m in M] for v in V
    ]


@st.composite
def _lsh_case(draw):
    """(V, planes, per_table) with bounded elements, so no dot overflows
    to NaN and the plain ``>= 0`` test is the whole rule."""
    d = draw(st.integers(1, 64))
    per_table, tables = draw(st.integers(1, 4)), draw(st.integers(1, 3))
    row = st.lists(st.floats(-1e6, 1e6), min_size=d, max_size=d)
    V = draw(st.lists(row, min_size=1, max_size=4))
    planes = draw(st.lists(row, min_size=per_table * tables, max_size=per_table * tables))
    return V, planes, per_table


@settings(max_examples=200, deadline=None)
@given(case=_lsh_case())
def test_sign_buckets_equal_bit_packed_fold_signs(case) -> None:
    V, planes, per_table = case
    got = vec.sign_buckets(V, planes, per_table)
    for v, row in zip(V, got.tolist()):
        want = []
        for t in range(len(planes) // per_table):
            b = 0
            for i in range(per_table):
                if _fold_dot(v, planes[t * per_table + i]) >= 0:
                    b |= 1 << i
            want.append(b)
        assert row == want


@settings(max_examples=300, deadline=None)
@given(
    rows=st.integers(1, 8).flatmap(
        lambda k: st.lists(
            st.lists(st.integers(-2, 2).map(float), min_size=k, max_size=k),
            min_size=1,
            max_size=6,
        )
    ),
    n=st.integers(1, 8),
)
def test_argmax_and_topn_are_first_wins_on_ties(rows, n: int) -> None:
    # five distinct values over up to 8 columns: ties are the common case
    import numpy as np

    D = np.array(rows)
    assert vec.argmax_first(D).tolist() == [r.index(max(r)) for r in rows]
    assert vec.topn_first(D, n).tolist() == [
        sorted(range(len(r)), key=lambda j: (-r[j], j))[:n] for r in rows
    ]


def test_argmax_and_topn_put_nan_first_like_spark() -> None:
    import numpy as np

    nan, inf = float("nan"), float("inf")
    D = np.array([[1.0, nan, inf, nan], [-0.0, 0.0, -1.0, 0.0]])
    assert vec.argmax_first(D).tolist() == [1, 0]
    assert vec.topn_first(D, 4).tolist() == [[1, 3, 2, 0], [0, 1, 3, 2]]


NAN = float("nan")
# null vector, short vector, vector containing NaN, zero vector, two
# ordinary rows, empty vector, long vector, vector with a null element
DEGENERATE = [
    (1, None),
    (2, [0.5, -1.0, 2.0]),
    (3, [1.0, NAN, 0.0, -2.0]),
    (4, [0.0, 0.0, 0.0, 0.0]),
    (5, [1.0, -2.0, 0.5, 3.0]),
    (6, [-1.0, 0.25, -0.5, 0.0]),
    (7, []),
    (8, [1.0, 2.0, 3.0, 4.0, 5.0]),
    (9, [1.0, None, 0.0, 1.0]),
]
CENTROIDS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 0.6, 0.8],
    [-0.5, 0.5, -0.5, 0.5],
]


def test_degenerate_rows_match_the_jvm_expressions(spark) -> None:
    """Expected values are what the replaced higher-order-function
    expressions (sign fold, array_position of array_max, array_sort by
    (-dot, index)) returned on these rows; the kernels must reproduce
    them, nulls and Spark's NaN ordering included."""
    from pyspark.sql import functions as F

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ann_index,
        build_ivf_kmeans_index,
    )

    df = spark.createDataFrame(DEGENERATE, "vec_id long, embedding array<double>")
    ann, _ = build_ann_index(df, dim=4, num_planes=4, seed=7)
    assert dict(ann.select("id", "bucket").collect()) == {
        1: 0, 2: 0, 3: 15, 4: 15, 5: 6, 6: 11, 7: 0, 8: 0, 9: 0,
    }
    ivf, _ = build_ivf_kmeans_index(df, centroids=CENTROIDS)
    assert dict(ivf.select("id", "bucket").collect()) == {
        1: None, 2: None, 3: 0, 4: 0, 5: 2, 6: 3, 7: None, 8: None, 9: None,
    }
    # the probe column embedding_neardup_ivf and knn_join_ivf consume
    for nprobe, want in [
        (2, {5: [2, 0], 6: [3, 1]}),
        (3, {5: [2, 0, 3], 6: [3, 1, 2]}),
    ]:
        probes = df.select(
            "vec_id",
            vec.centroid_topn_col(F.col("embedding"), CENTROIDS, nprobe),
        ).collect()
        default = list(range(nprobe))
        assert {r[0]: list(r[1]) for r in probes} == {
            i: want.get(i, default) for i, _ in DEGENERATE
        }


def test_kernels_handle_an_empty_batch() -> None:
    import numpy as np

    empty = np.zeros((0, 3))
    planes = [[random.Random(i).gauss(0, 1) for _ in range(3)] for i in range(4)]
    assert vec.sign_buckets(empty, planes, 2).shape == (0, 2)
    assert vec.topn_first(vec.fold_dots(empty, planes), 2).shape == (0, 2)
    assert vec.argmax_first(vec.fold_dots(empty, planes)).shape == (0,)
