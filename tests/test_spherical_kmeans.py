"""Pins for the driver-side spherical k-means behind the IVF operators and
semantic dedup (``spherical_centroids`` / ``nearest_cell`` in
operators/similarity.py).

The fit has no RNG: the same sample gives the same centroids, every
centroid is unit-norm, and k is capped at the number of distinct
directions in the sample, so degenerate corpora (all vectors colinear, a
handful of directions, nothing at all) give fewer cells instead of a
crash.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from energy_datalake_solution_spark.functions.vector import l2_norm
from energy_datalake_solution_spark.operators.similarity import (
    nearest_cell,
    spherical_centroids,
)
from energy_datalake_solution_spark.sources.catalog import load_table

from .conftest import SF_ORACLE

DIM = 64


def _rows(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def _cells(rows, centroids):
    return {
        r.vec_id: r.cell
        for r in rows.select(
            "vec_id", nearest_cell(F.col("embedding"), centroids).alias("cell")
        ).collect()
    }


def _direction(seed):
    v = np.random.default_rng(seed).standard_normal(DIM)
    return v / np.linalg.norm(v)


def test_fit_is_deterministic_and_unit_norm(spark):
    e = load_table(spark, SF_ORACLE, "embeddings").where(
        l2_norm(F.col("embedding")) > 0
    ).select("vec_id", "embedding")
    a = spherical_centroids(e, 8)
    assert a == spherical_centroids(e, 8)
    assert [i for i, _ in a] == list(range(8))
    norms = np.linalg.norm(np.array([c for _, c in a]), axis=1)
    assert np.allclose(norms, 1.0)


def test_colinear_corpus_gives_one_cell(spark):
    d = _direction(1)
    rows = _rows(spark, [d * s for s in np.linspace(0.5, 4.0, 40)])
    centroids = spherical_centroids(rows, 8)
    assert len(centroids) == 1
    assert np.allclose(centroids[0][1], d.astype(np.float32), atol=1e-6)
    assert set(_cells(rows, centroids).values()) == {0}


def test_three_directions_with_k8_give_three_cells(spark):
    dirs = [_direction(s) for s in (2, 3, 4)]
    vecs = [dirs[i % 3] * (1.0 + i / 10) for i in range(60)]
    rows = _rows(spark, vecs)
    centroids = spherical_centroids(rows, 8)
    assert len(centroids) == 3
    # each cell is one direction, and holds exactly that direction's rows
    cells = _cells(rows, centroids)
    assert {frozenset(v for v in cells if cells[v] == c) for c in range(3)} == {
        frozenset(range(j, 60, 3)) for j in range(3)
    }
    for cid, c in centroids:
        assert np.isclose(np.linalg.norm(c), 1.0)


def test_empty_sample_gives_single_cell(spark):
    rows = spark.createDataFrame([], "vec_id long, embedding array<float>")
    centroids = spherical_centroids(rows, 8)
    assert centroids == [(0, [0.0] * DIM)]
    # the zero centroid still assigns: every vector goes to cell 0
    assert set(_cells(_rows(spark, [_direction(5)]), centroids).values()) == {0}


def test_assignment_ties_go_to_the_lower_id(spark):
    d = _direction(6)
    other = _direction(7)
    centroids = [(0, list(other)), (1, list(d)), (2, list(d))]
    assert _cells(_rows(spark, [d]), centroids) == {0: 1}
