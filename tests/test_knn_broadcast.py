"""The broadcast cell-index kNN search against brute force and against the
cell join, which must return the same rows."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest

from verde_spark import KNeighbors, distance_mask
from verde_spark.coordinates import grid_coordinates
from verde_spark.operators.neighbors import CellIndex, knn_join


def _brute_topk(de, dn, did, qe, qn, k):
    """Every (query, point) pair ranked by (query, distance, did)."""
    m, n = len(qe), len(de)
    q, p = np.repeat(np.arange(m), n), np.tile(np.arange(n), m)
    a, b = de[p] - qe[q], dn[p] - qn[q]
    dist = np.sqrt(a * a + b * b)
    order = np.lexsort((did[p], dist, q))
    q, p, dist = q[order], p[order], dist[order]
    count = np.bincount(q, minlength=m)
    rank = np.arange(len(q)) - (np.cumsum(count) - count)[q]
    keep = rank < k
    return q[keep], did[p[keep]], dist[keep], rank[keep]


def _points(rng, kind, n):
    if kind == "uniform":
        return rng.uniform(0, 10, n), rng.uniform(0, 10, n)
    if kind == "clustered":
        centres = rng.uniform(0, 10, (3, 2))
        label = rng.integers(0, 3, n)
        return (centres[label, 0] + rng.normal(0, 0.05, n),
                centres[label, 1] + rng.normal(0, 0.05, n))
    if kind == "lattice":  # many exactly equidistant candidates
        return rng.integers(0, 5, n).astype(float), rng.integers(0, 5, n).astype(float)
    return rng.uniform(0, 10, n), np.zeros(n)  # collinear


@pytest.mark.parametrize("seed,kind", enumerate(["uniform", "clustered", "lattice", "collinear"]))
def test_cell_index_matches_brute_force(seed, kind):
    rng = np.random.default_rng(seed)
    for _ in range(6):
        n, m, k = int(rng.integers(0, 300)), int(rng.integers(1, 50)), int(rng.integers(1, 15))
        de, dn = _points(rng, kind, n)
        did = rng.integers(-(2**62), 2**62, n)
        # queries reach well outside the data bbox
        if kind == "lattice":
            qe, qn = rng.integers(-3, 8, m).astype(float), rng.integers(-3, 8, m).astype(float)
        else:
            qe, qn = rng.uniform(-5, 15, m), rng.uniform(-5, 15, m)
        index = CellIndex(de, dn, k, did=did)
        q, p, dist, rank = index.search(qe, qn, k)
        want = _brute_topk(de, dn, did, qe, qn, k)
        npt.assert_array_equal(q, want[0])
        npt.assert_array_equal(index.did[p], want[1])
        npt.assert_array_equal(dist, want[2])
        npt.assert_array_equal(rank, want[3])


def test_cell_index_nearest_distance_edge_cases():
    index = CellIndex([0.0, 1.0, np.nan], [0.0, 1.0, 5.0])
    got = index.nearest_distance(
        np.array([0.0, 1e300, np.nan, 4.0]), np.array([0.0, 0.0, 0.0, 5.0])
    )
    # the NaN data point is left out; a NaN query has no finite distance
    npt.assert_array_equal(got[[0, 1, 3]], [0.0, np.inf, np.hypot(3.0, 4.0)])
    assert np.isnan(got[2])
    npt.assert_array_equal(CellIndex([], []).nearest_distance([0.5], [0.5]), [np.inf])


def _both_paths(data, queries, **kw):
    """knn_join on the broadcast path and on the cell join, as sorted frames."""
    frames = []
    for threshold in (200_000, 0):
        out = knn_join(data, queries, broadcast_threshold=threshold, **kw).toPandas()
        frames.append(out.sort_values(["qid", "rank"]).reset_index(drop=True))
    return frames


def _assert_same_rows(spark, de, dn, qe, qn, k):
    data = spark.createDataFrame(pd.DataFrame({"easting": de, "northing": dn, "val": np.arange(len(de))}))
    queries = spark.createDataFrame(pd.DataFrame({"easting": qe, "northing": qn, "qid": np.arange(len(qe))}))
    bcast, join = _both_paths(data, queries, k=k, query_id="qid")
    assert list(bcast.columns) == list(join.columns)
    pd.testing.assert_frame_equal(bcast, join)
    return bcast


def test_broadcast_equals_cell_join_scatter_outside_and_k_over_n(spark):
    rng = np.random.default_rng(3)
    de, dn = rng.uniform(0, 10, 300), rng.uniform(0, 10, 300)
    # random scatter inside the data bbox, plus queries far outside it
    qe = np.concatenate([rng.uniform(0, 10, 40), [-50.0, 60.0, 5.0, 5.0]])
    qn = np.concatenate([rng.uniform(0, 10, 40), [5.0, 5.0, -40.0, 70.0]])
    got = _assert_same_rows(spark, de, dn, qe, qn, k=5)
    assert (got.groupby("qid").size() == 5).all()
    # k larger than the data side: every query gets every point
    got = _assert_same_rows(spark, de[:7], dn[:7], qe[:10], qn[:10], k=9)
    assert (got.groupby("qid").size() == 7).all()


def test_broadcast_equals_cell_join_clustered(spark):
    # tight clusters in a wide bbox: most queries sit in empty cells and
    # need their ring widened on both paths
    rng = np.random.default_rng(5)
    de, dn = _points(rng, "clustered", 600)
    qe, qn = rng.uniform(0, 10, 60), rng.uniform(0, 10, 60)
    _assert_same_rows(spark, de, dn, qe, qn, k=10)


def test_knn_ties_identical_on_both_paths_across_partitioning(spark):
    # planted equidistant neighbors: both paths break the tie by the
    # content-derived id, whatever the data partitioning
    data_pdf = pd.DataFrame(
        {
            "easting": [1.0, -1.0, 0.0, 0.0, 3.0, -3.0],
            "northing": [0.0, 0.0, 1.0, -1.0, 3.0, -3.0],
            "val": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        }
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": [0, 1], "easting": [0.0, 0.0], "northing": [0.0, 0.5]})
    )
    picks = []
    for nparts in (1, 3, 7):
        data = spark.createDataFrame(data_pdf).repartition(nparts)
        for frame in _both_paths(data, queries, k=2, query_id="qid", cell_size=2.0):
            picks.append(frame[["qid", "nb_val", "distance", "rank"]])
    for other in picks[1:]:
        pd.testing.assert_frame_equal(picks[0], other)


@pytest.mark.parametrize("threshold", [200_000, 0])
def test_null_coordinate_data_rows_never_neighbors(spark, threshold):
    data = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (1.0, 1.0, 3.0), (None, None, 100.0)],
        "easting double, northing double, scalars double",
    )
    queries = spark.createDataFrame([(0, 0.2, 0.1)], "qid long, easting double, northing double")
    out = knn_join(data, queries, k=3, query_id="qid", broadcast_threshold=threshold).toPandas()
    assert sorted(out["nb_scalars"]) == [1.0, 3.0]
    assert out["distance"].notna().all()
    assert sorted(out["rank"]) == [1, 2]


def test_kneighbors_ignores_null_coordinate_rows(spark):
    data = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (1.0, 1.0, 3.0), (None, None, 100.0)],
        "easting double, northing double, scalars double",
    )
    queries = spark.createDataFrame([(0.2, 0.1)], "easting double, northing double")
    pred = KNeighbors(k=3).fit(data).predict(queries).toPandas()
    assert pred["prediction"].tolist() == [2.0]


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kneighbors_job_count_independent_of_data_layout(spark):
    rng = np.random.default_rng(11)
    nodes = grid_coordinates(spark, (0, 10, 0, 10), shape=(16, 16))
    counts = []
    for kind in ("uniform", "clustered"):
        de, dn = _points(rng, kind, 2000)
        data = spark.createDataFrame(pd.DataFrame({"easting": de, "northing": dn, "scalars": de + dn}))
        counts.append(_jobs(spark, f"knn-jobs-{kind}",
                            lambda: KNeighbors(k=10).fit(data).predict(nodes).count()))
    assert counts[0] == counts[1]


def test_distance_mask_broadcast_matches_brute_force(spark):
    rng = np.random.default_rng(2)
    # lattice data and targets put many targets exactly at maxdist
    de, dn = rng.integers(0, 20, 150).astype(float), rng.integers(0, 20, 150).astype(float)
    targets = grid_coordinates(spark, (-5, 25, -5, 25), spacing=1.0)
    data = spark.createDataFrame(pd.DataFrame({"easting": de, "northing": dn}))
    got = distance_mask(data, targets, maxdist=2.0).toPandas()
    qe, qn = got["easting"].to_numpy(), got["northing"].to_numpy()
    d2 = (qe[:, None] - de) ** 2 + (qn[:, None] - dn) ** 2
    npt.assert_array_equal(got["in_range"].to_numpy(), np.sqrt(d2.min(axis=1)) <= 2.0)
