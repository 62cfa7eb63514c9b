"""Invariant tests for operators/clustering.py (Lloyd k-means)."""

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.errors import AvroSqlError
from avro_sql_spark.operators.clustering import kmeans_lloyd, kmeans_report


_CENTERS = [(0.0, 0.0), (10.0, 10.0), (0.0, 10.0), (10.0, 0.0)]


@pytest.fixture(scope="module")
def blobs(spark):
    # four tight, well-separated 2-D blobs of 4 points; blob b holds ids
    # b, b+4, b+8, b+12, so each of the k=4 seeds (the 4 lowest ids)
    # starts in its own blob
    rows = [
        (b + 4 * i, [_CENTERS[b][0] + 0.1 * i, _CENTERS[b][1] + 0.1 * (i % 2)])
        for b in range(4)
        for i in range(4)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_separates_blobs(blobs):
    out = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(blobs).collect()}
    for b in range(4):
        assert len({out[b + 4 * i] for i in range(4)}) == 1
    assert len({out[b] for b in range(4)}) == 4


def test_kmeans_inertia_nonincreasing(blobs):
    """Lloyd monotonicity: the trained centroids' inertia is at most
    the inertia of the seeds the training starts from."""
    from avro_sql_spark.operators.clustering import _assign

    seeded = [list(r["embedding"]) for r in sorted(blobs.collect())[:4]]
    at_seeds = _assign(blobs, seeded).agg(F.sum("_dist")).collect()[0][0]
    trained = kmeans_lloyd(blobs).agg(F.sum("sqdist")).collect()[0][0]
    assert trained <= at_seeds + 1e-9


def test_kmeans_deterministic(blobs):
    a = sorted(map(tuple, kmeans_lloyd(blobs).collect()))
    b = sorted(map(tuple, kmeans_lloyd(blobs).collect()))
    assert a == b


def test_kmeans_rejects_too_few_rows(spark):
    tiny = spark.createDataFrame([(0, [1.0, 2.0])], ["vec_id", "embedding"])
    with pytest.raises(AvroSqlError, match="need at least k"):
        kmeans_lloyd(tiny)


def test_kmeans_report_counts(blobs):
    rep = kmeans_report(blobs).collect()
    assert sorted(r["n_points"] for r in rep) == [4, 4, 4, 4]
    assert all(r["mean_sqdist"] < 0.1 for r in rep)  # tight blobs
