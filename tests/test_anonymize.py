"""Anonymization invariants (FIXTURES.md §3): sensitive preserved, every
member's an_features equals its cluster mean, noise takes nearest centroid."""

import importlib
import random

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators import dbscan
from dbscan_pyspark_spark.operators.anonymize import (
    anonymize,
    assign_nearest,
    cluster_centroids,
    eps_sweep,
    information_loss,
)


def _blobs(rng, centers, n_each, spread, start_id=0):
    pts, i = [], start_id
    for cx, cy in centers:
        for _ in range(n_each):
            pts.append((i, [cx + rng.uniform(-spread, spread), cy + rng.uniform(-spread, spread)], i % 5))
            i += 1
    return pts


def test_anonymize_invariants(spark):
    rng = random.Random(11)
    pts = _blobs(rng, [(0, 0), (60, 60)], 30, 2.0)
    pts.append((999, [30.0, 30.0], 4))  # noise
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    labels = dbscan(df, eps=3.0, min_pts=5, min_cluster_size=5)
    out = anonymize(df, labels).collect()

    assert len(out) == len(pts)
    by_id = {r["id"]: r for r in out}
    # sensitive preserved
    for i, _, s in pts:
        assert by_id[i]["sensitive"] == s

    # clustered members share their cluster's mean
    cents = {
        r["cluster_id"]: r["centroid"]
        for r in cluster_centroids(df, labels).collect()
    }
    for r in out:
        if not r["is_noise"]:
            exp = cents[r["cluster_id"]]
            assert all(abs(a - b) < 1e-9 for a, b in zip(r["an_features"], exp))

    # the noise point gets the nearest centroid
    noise = by_id[999]
    assert noise["is_noise"]
    dists = {
        cid: sum(abs(a - b) for a, b in zip([30.0, 30.0], c))
        for cid, c in cents.items()
    }
    assert noise["cluster_id"] == min(dists, key=lambda c: (dists[c], c))


def test_assign_nearest_tiebreak(spark):
    pts = spark.createDataFrame([(1, [5.0, 5.0])], ["id", "features"])
    cents = spark.createDataFrame(
        [(10, [0.0, 0.0]), (2, [10.0, 10.0])], ["cluster_id", "centroid"]
    )
    # both centroids at L1 distance 10 -> tie broken to lower cluster id
    r = assign_nearest(pts, cents).first()
    assert r["cluster_id"] == 2 and r["distance"] == 10.0


def test_information_loss_and_sweep(spark):
    rng = random.Random(23)
    pts = _blobs(rng, [(0, 0), (40, 40)], 25, 1.5)
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])

    labels = dbscan(df, eps=2.0, min_pts=4, min_cluster_size=4)
    m = information_loss(df, labels).first()
    assert m["n_clusters"] >= 2
    assert m["total_error"] == m["cluster_error"] + m["noise_error"]

    metrics, best = eps_sweep(df, [0.01, 2.0, 4.0], min_pts=4)
    rows = {r["eps"]: r for r in metrics.collect()}
    assert set(rows) == {0.01, 2.0, 4.0}
    # eps=0.01: everything is noise, degenerate row
    assert rows[0.01]["n_clusters"] == 0
    assert rows[0.01]["total_error"] == float("inf")
    assert best in (2.0, 4.0)


def _dup_heavy_points():
    """Three blobs, exact duplicates of twelve of their rows, and a far
    duplicate triple that is never within ε of anything else."""
    rng = random.Random(31)
    pts = _blobs(rng, [(0, 0), (15, 15), (40, 0)], 18, 2.0)
    pts = pts + [(10_000 + i, list(pts[i][1]), pts[i][2]) for i in range(12)]
    return pts + [(20_000 + i, [90.0, 90.0], 1) for i in range(3)]


def _assert_same_metrics(m_a, b_a, m_b, b_b):
    assert b_a == b_b
    ra = sorted(m_a.collect(), key=lambda r: r["eps"])
    rb = sorted(m_b.collect(), key=lambda r: r["eps"])
    assert len(ra) == len(rb)
    for a, b in zip(ra, rb):
        assert a["eps"] == b["eps"]
        assert a["n_clusters"] == b["n_clusters"]
        assert a["n_noise"] == b["n_noise"]
        for col in ("cluster_error", "noise_error", "total_error"):
            if a[col] == float("inf"):
                assert b[col] == float("inf")
            else:
                assert abs(a[col] - b[col]) < 1e-6


def test_eps_sweep_matches_single_runs(spark, monkeypatch):
    """Each sweep row equals dbscan + information_loss at its ε, on the
    Kruskal pass and on the per-ε chain (its pair bound forced to 0),
    for blobs, duplicate-heavy input and min_cluster_size=1 singletons
    (an edgeless duplicate group is one singleton cluster per row)."""
    mod = importlib.import_module("dbscan_pyspark_spark.operators.anonymize")
    rng = random.Random(29)
    blobs = spark.createDataFrame(
        _blobs(rng, [(0, 0), (20, 20)], 20, 2.0), ["id", "features", "sensitive"]
    )
    dups = spark.createDataFrame(_dup_heavy_points(), ["id", "features", "sensitive"])
    for df, eps_values, min_pts, mcs in [
        (blobs, [2.0, 5.0], 4, None),
        (dups, [0.5, 2.0], 4, 1),
        (dups, [2.0, 5.0], 1, 1),
    ]:
        single = {}
        for eps in eps_values:
            labels = dbscan(df, eps, min_pts, min_cluster_size=mcs)
            single[eps] = information_loss(df, labels).first()
        for bound in (5_000_000, 0):
            monkeypatch.setattr(mod, "_SWEEP_DRIVER_PAIRS", bound)
            metrics, _ = eps_sweep(df, eps_values, min_pts, min_cluster_size=mcs)
            for r in metrics.collect():
                s = single[r["eps"]]
                assert r["n_clusters"] == s["n_clusters"], (r, s, bound)
                assert r["n_noise"] == s["n_noise"], (r, s, bound)
                assert abs(r["total_error"] - s["total_error"]) < 1e-6


def test_eps_sweep_kruskal_matches_per_eps_chain(spark, monkeypatch):
    """The driver Kruskal sweep (one union-find pass labeling every
    eps level) must produce the same metrics as the per-eps
    counts/cores/edges/CC chain it replaces (forced by a pair bound
    of 0)."""
    mod = importlib.import_module("dbscan_pyspark_spark.operators.anonymize")
    df = spark.createDataFrame(_dup_heavy_points(), ["id", "features", "sensitive"])
    for eps_values, min_pts, mcs in [
        # 0.01 is the degenerate zero-cluster level (covered by
        # test_information_loss_and_sweep's assertion of that branch)
        ([0.01, 0.5, 2.0, 6.0], 4, None),
        ([2.0, 5.0], 1, 1),       # mcs<=1: every rep is core
        ([0.5, 2.0], 4, 1),       # mcs<=1 with edgeless singleton reps
    ]:
        monkeypatch.setattr(mod, "_SWEEP_DRIVER_PAIRS", 5_000_000)
        m_new, b_new = eps_sweep(df, eps_values, min_pts, min_cluster_size=mcs)
        monkeypatch.setattr(mod, "_SWEEP_DRIVER_PAIRS", 0)
        m_old, b_old = eps_sweep(df, eps_values, min_pts, min_cluster_size=mcs)
        _assert_same_metrics(m_new, b_new, m_old, b_old)


def test_eps_sweep_driver_failure_falls_back(spark, monkeypatch):
    """Any failure of the driver attempt (here driver memory) degrades
    to the per-ε chain instead of aborting the sweep."""
    mod = importlib.import_module("dbscan_pyspark_spark.operators.anonymize")
    df = spark.createDataFrame(_dup_heavy_points(), ["id", "features", "sensitive"])
    eps_values = [0.5, 2.0, 6.0]
    m_kruskal, b_kruskal = eps_sweep(df, eps_values, 4)

    def out_of_memory(*args, **kwargs):
        raise MemoryError("driver heap exhausted")

    monkeypatch.setattr(mod, "_sweep_assignments_driver", out_of_memory)
    with pytest.warns(RuntimeWarning, match="driver heap exhausted"):
        m_chain, b_chain = eps_sweep(df, eps_values, 4)
    _assert_same_metrics(m_kruskal, b_kruskal, m_chain, b_chain)
