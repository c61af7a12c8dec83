"""Centroid generalization (k-anonymization) + ε-sweep metrics.

Rebuilds the reference's anonymization stage declaratively:

- per-cluster centroid  = per-dimension mean (``calc_error``/``anonymize``,
  ``DBSCAN.py:86-117``) — a single groupBy with one ``avg`` per dimension
  (map-side partial agg; no ``collect_list`` of whole clusters, so no
  group can exceed executor memory);
- noise points take their *nearest* centroid via a broadcast
  nested-loop argmin join (``assign_nearest`` over a broadcast list,
  ``DBSCAN.py:126-133,187-192``) — here ``crossJoin(broadcast(centroids))``
  + ``min_by``; tie-break = lowest cluster id (the reference's strict
  ``<`` keeps the first-seen centroid, which is list order — a total
  order makes it deterministic);
- information-loss metrics per ε (``eps_records``, ``DBSCAN.py:135-152``).

The ε-sweep computes the pair set ONCE at max ε and filters per ε
(neighbors at ε ⊆ neighbors at ε' > ε) — turning the reference's
Σ O(n²) sweep into one grid join (SURVEY.md §4 'iterative compute').
It runs on dbscan.py's rep-graph core: the same contraction
(``eps_join._contract_reps``) and, per ε, the same rep labelling
(``dbscan._labeled_reps``, the pairs -> cores -> edges -> CC -> cluster
id chain) — or, while the max-ε pairs fit the driver, one Kruskal pass
(:func:`_sweep_assignments_driver`, on ``components._union_min_root``)
that labels every ε level at once.
"""

from __future__ import annotations

import warnings
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# connected_components stays importable here although eps_sweep reaches
# it through dbscan._labeled_reps: perfbench's traced run wraps this
# module's name.
from dbscan_pyspark_spark.operators.components import (  # noqa: F401
    _union_min_root,
    connected_components,
)
from dbscan_pyspark_spark.operators.dbscan import (
    _driver_graph_labels,
    _labeled_reps,
    _with_rep_labels,
)
from dbscan_pyspark_spark.operators.eps_join import (
    _contract_reps,
    _dim_of,
    _metric_fn,
    eps_join,
)


def cluster_centroids(
    points: DataFrame,
    labels: DataFrame,
    features: str = "features",
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    dim: int | None = None,
) -> DataFrame:
    """DataFrame(cluster_id, centroid array<double>, n_members).

    ``labels`` rows with NULL cluster are ignored (noise).
    """
    if dim is None:
        dim = _dim_of(points, features)
    joined = points.join(
        labels.where(F.col(cluster_col).isNotNull()).select(id_col, cluster_col),
        id_col,
    )
    aggs = [F.avg(F.col(features)[i]).alias(f"_c{i}") for i in range(dim)] + [
        F.count(F.lit(1)).alias("n_members")
    ]
    g = joined.groupBy(cluster_col).agg(*aggs)
    return g.select(
        cluster_col,
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
        "n_members",
    )


def assign_nearest(
    points: DataFrame,
    centroids: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    centroid_col: str = "centroid",
    dim: int | None = None,
) -> DataFrame:
    """Broadcast nearest-centroid join (SURVEY.md §2.3 J2/J3).

    DataFrame(id, cluster_id, distance): each point mapped to its
    closest centroid. Centroid sets are small by construction (bounded
    by n/k clusters), so the build side is an explicit ``broadcast`` —
    no shuffle of the points side at any scale. The distance expression
    is evaluated |points| x |centroids| times, so the unrolled
    fixed-dimension form matters here: the dimension is inferred from
    the (small) centroid side when not given.
    """
    if dim is None:
        # the centroid side is the cheap probe, but it can be legitimately
        # empty (zero clusters -> every point is noise); fall back to the
        # points side rather than failing plan construction.
        try:
            dim = _dim_of(centroids, centroid_col)
        except ValueError:
            dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    c = F.broadcast(
        centroids.select(
            F.col(cluster_col).alias("_cid"), F.col(centroid_col).alias("_centroid")
        )
    )
    paired = points.crossJoin(c).select(
        F.col(id_col),
        F.col("_cid"),
        dist(features, "_centroid").alias("_d"),
    )
    # argmin with deterministic tie-break on cluster id
    return paired.groupBy(id_col).agg(
        F.min_by("_cid", F.struct("_d", "_cid")).alias(cluster_col),
        F.min("_d").alias("distance"),
    )


def anonymize(
    points: DataFrame,
    labels: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    sensitive_col: str = "sensitive",
    dim: int | None = None,
) -> DataFrame:
    """Replace each point's quasi-identifiers by its cluster centroid.

    Clustered points take their own cluster's centroid; noise points the
    nearest cluster centroid (``DBSCAN.py:200-205`` union). Output:
    DataFrame(id, features, an_features, sensitive, cluster_id, is_noise)
    — the sensitive attribute rides through untouched (``DBSCAN.py:84``).
    """
    if dim is None:
        dim = _dim_of(points, features)
    cents = cluster_centroids(points, labels, features=features, id_col=id_col, dim=dim)
    lab = labels.select(id_col, "cluster_id", "is_noise")
    pts = points.join(lab, id_col)

    clustered = (
        pts.where(~F.col("is_noise"))
        .join(cents.select("cluster_id", "centroid"), "cluster_id")
    )
    noise = pts.where(F.col("is_noise")).drop("cluster_id")
    noise_assigned = noise.join(
        assign_nearest(
            noise, cents, metric=metric, features=features, id_col=id_col, dim=dim
        ).select(id_col, "cluster_id"),
        id_col,
    ).join(cents.select("cluster_id", "centroid"), "cluster_id")

    out_cols = [
        F.col(id_col),
        F.col(features),
        F.col("centroid").alias("an_features"),
        F.col(sensitive_col),
        F.col("cluster_id"),
        F.col("is_noise"),
    ]
    return clustered.select(*out_cols).unionByName(noise_assigned.select(*out_cols))


def information_loss(
    points: DataFrame,
    labels: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> DataFrame:
    """One-row metrics frame per the reference's eps_records
    (``DBSCAN.py:135-152``): n_clusters, n_noise, cluster_error
    (Σ dist(pt, own centroid)), noise_error (Σ dist(noise, nearest
    centroid)), total_error.

    Degenerate ε with no clusters at all reproduces the reference's
    ``[eps, 0, n, 0, inf, inf]`` row (``DBSCAN.py:163-168``)."""
    if dim is None:
        dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    spark = points.sparkSession
    if labels.where(F.col("cluster_id").isNotNull()).isEmpty():
        n = points.count()
        inf = float("inf")
        return spark.createDataFrame(
            [(0, n, 0.0, inf, inf)],
            "n_clusters long, n_noise long, cluster_error double, "
            "noise_error double, total_error double",
        )
    an = anonymize(points, labels, metric=metric, features=features, id_col=id_col, dim=dim)
    return an.agg(
        F.count_distinct(F.when(~F.col("is_noise"), F.col("cluster_id"))).alias(
            "n_clusters"
        ),
        F.sum(F.when(F.col("is_noise"), 1).otherwise(0)).alias("n_noise"),
        F.coalesce(
            F.sum(F.when(~F.col("is_noise"), dist(features, "an_features"))), F.lit(0.0)
        ).alias("cluster_error"),
        F.coalesce(
            F.sum(F.when(F.col("is_noise"), dist(features, "an_features"))), F.lit(0.0)
        ).alias("noise_error"),
    ).select(
        "n_clusters",
        "n_noise",
        "cluster_error",
        "noise_error",
        (F.col("cluster_error") + F.col("noise_error")).alias("total_error"),
    )


def _sweep_assignments_driver(pairs_pdf, reps_pdf, eps_values, min_pts, id_col):
    """Solve EVERY ε level's cluster assignment in one driver pass (a
    Kruskal sweep) over the max-ε pair relation.

    Equivalence to the per-ε chain (``dbscan._labeled_reps`` on the
    pairs with d < ε):

    - a rep's weighted neighbor count at ε is Σ{mult_b : d < ε}, which
      only grows with ε, so core status is monotone: a is core at ε iff
      ε > dthr(a), where dthr(a) = min{D : Σ{mult_b : d <= D} >= k};
    - the per-ε edge set is {(a, b) : d < ε and a core}, so the
      UNDIRECTED pair {a, b} is connected at ε iff
      ε > max(d, min(dthr(a), dthr(b))) — its activation threshold;
    - a rep participates (is CC-labeled) at ε iff some directed edge
      touches it; the self-pair (a, a, d=0) the ε-join emits makes a
      lone core participate at exactly ε > dthr(a), so participation is
      "incident to an active pair" with no special cases;
    - union-by-min-root union-find labels components with their min rep
      id — the same labels connected_components produces.

    Returns {ε: pandas DataFrame(id, component)} over the participating
    reps — connected_components' labels of that ε's edge set."""
    import numpy as np
    import pandas as pd

    rid = np.sort(reps_pdf[id_col].to_numpy(dtype="int64"))
    n = len(rid)
    ai = np.searchsorted(rid, pairs_pdf["a_id"].to_numpy(dtype="int64"))
    bi = np.searchsorted(rid, pairs_pdf["b_id"].to_numpy(dtype="int64"))
    d = pairs_pdf["distance"].to_numpy(dtype="float64")
    m = pairs_pdf["b__mult"].to_numpy(dtype="int64")

    # dthr per rep: running weighted count up the sorted distance list
    # (ties share a distance value, so the first row whose running sum
    # reaches k carries exactly min{D : sum over d<=D >= k})
    dthr = np.full(n, np.inf)
    if len(d):
        df = pd.DataFrame({"ai": ai, "d": d, "m": m}).sort_values(
            ["ai", "d"], kind="mergesort"
        )
        cum = df.groupby("ai")["m"].cumsum()
        hits = df.loc[cum >= min_pts].groupby("ai")["d"].first()
        dthr[hits.index.to_numpy()] = hits.to_numpy()

    # per-pair activation threshold and per-rep participation threshold
    t = np.maximum(d, np.minimum(dthr[ai], dthr[bi]))
    part = np.full(n, np.inf)
    if len(t):
        np.minimum.at(part, ai, t)
        np.minimum.at(part, bi, t)

    # Kruskal: union pairs by ascending threshold, snapshot per ε
    eorder = np.argsort(t, kind="stable")
    ai, bi, t = ai[eorder], bi[eorder], t[eorder]
    parent = np.arange(n)
    out = {}
    lo_edge = 0
    for eps in sorted(set(float(e) for e in eps_values)):
        hi_edge = int(np.searchsorted(t, eps, side="left"))  # t < eps
        parent = _union_min_root(parent, ai[lo_edge:hi_edge], bi[lo_edge:hi_edge])
        lo_edge = hi_edge
        participating = part < eps
        out[eps] = pd.DataFrame(
            {id_col: rid[participating], "component": rid[parent[participating]]}
        )
    return out


# Driver bound of the Kruskal sweep, in max-ε pairs: the same 5M bound as
# connected_components' union-find fast path. Larger pair sets run the
# per-ε distributed chain.
_SWEEP_DRIVER_PAIRS = 5_000_000


def eps_sweep(
    points: DataFrame,
    eps_values: list[float],
    min_pts: int,
    min_cluster_size: int | None = None,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> tuple[DataFrame, float]:
    """Sweep ε over ``eps_values`` (the reference's outer loop,
    ``DBSCAN.py:158``), computing the pair set ONCE at max ε.

    Scale design: the whole sweep runs on the *contracted* point set
    (distinct feature vectors weighted by multiplicity — the rep graph
    of dbscan.py): one grid join at max ε over reps, then per ε only
    filters, weighted aggregations and the rep labelling. Per-point
    metrics are exact because duplicates share features:
    Σ_points dist = Σ_reps mult·dist, and centroids are
    multiplicity-weighted means.

    Returns (metrics DataFrame with one row per ε, best_eps) where best
    minimizes total_error — ties to the smaller ε, matching the
    reference's strict ``<`` best-so-far update (``DBSCAN.py:200``).
    """
    if min_cluster_size is None:
        min_cluster_size = min_pts
    if dim is None:
        dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    max_eps = max(eps_values)
    spark = points.sparkSession

    reps = _contract_reps(points, features, id_col, dim).persist()
    all_pairs = eps_join(
        reps, reps, max_eps, metric=metric, features=features,
        id_col=id_col, dim=dim, payload_b=["_mult"],
    ).persist()
    n_total = points.count()
    inf = float("inf")

    # Kruskal sweep (guide §1.2 "the distributed algorithm"): when the
    # max-ε pair relation fits the driver, ONE collect + one incremental
    # union-find pass yields every ε level's assignment — replacing each
    # ε's labelling job chain. Metrics still run through the unchanged
    # Spark aggregations below, so the declared query computes exactly
    # what it did. Larger pair sets, and any failure of the driver
    # attempt (Arrow pull, driver memory, the pass itself), take the
    # per-ε distributed chain.
    label_pdfs = None
    if all_pairs.count() <= _SWEEP_DRIVER_PAIRS:
        try:
            mult_pdf = reps.select(id_col, "_mult").toPandas()
            label_pdfs = _sweep_assignments_driver(
                all_pairs.select("a_id", "b_id", "distance", "b__mult").toPandas(),
                mult_pdf, eps_values, min_pts, id_col,
            )
        except Exception as exc:
            msg = f"eps_sweep: driver Kruskal pass failed ({exc!r}); using the per-ε chain"
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    n_reps = None if label_pdfs is not None else reps.count()

    def _one_eps(eps):
        # one ε's labels + weighted metrics; the ε bodies run
        # concurrently to hide per-job scheduling latency (guide §2.6)
        if label_pdfs is not None:
            lab = _driver_graph_labels(
                label_pdfs[float(eps)], mult_pdf, min_cluster_size, id_col, spark
            )
            labeled = nullcontext(
                _with_rep_labels(reps, lab, id_col, features, min_cluster_size)
            )
        else:
            labeled = _labeled_reps(
                all_pairs.where(F.col("distance") < F.lit(float(eps))),
                reps, n_reps, min_pts, min_cluster_size, id_col, features,
                half=False,
            )
        with labeled as rep_labels:
            rep_labels = rep_labels.persist()
            clustered = rep_labels.where(F.col("cluster_id").isNotNull())

            # weighted centroids
            cents = (
                clustered.groupBy("cluster_id")
                .agg(
                    *[
                        (
                            F.sum(F.col(features)[i] * F.col("_mult"))
                            / F.sum("_mult")
                        ).alias(f"_c{i}")
                        for i in range(dim)
                    ]
                )
                .select(
                    "cluster_id",
                    F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
                )
            )
            cluster_agg = clustered.join(cents, "cluster_id").agg(
                # a _solo rep stands for _mult singleton clusters
                (
                    F.count_distinct("cluster_id")
                    + F.sum(F.when(F.col("_solo"), F.col("_mult") - 1).otherwise(0))
                ).alias("n_clusters"),
                F.sum(F.col("_mult") * dist(features, "centroid")).alias("err"),
            )
            noise = rep_labels.where(F.col("cluster_id").isNull())
            noise_agg = (
                assign_nearest(
                    noise, cents, metric=metric, features=features,
                    id_col=id_col, dim=dim,
                )
                .join(noise.select(id_col, "_mult"), id_col)
                .agg(
                    F.coalesce(F.sum("_mult"), F.lit(0)).alias("n_noise"),
                    F.coalesce(F.sum(F.col("_mult") * F.col("distance")), F.lit(0.0)).alias("nerr"),
                )
            )
            # ONE action per ε: both 1-row aggregates ride a single
            # crossJoin job (the per-ε cost is job-scheduling latency,
            # not data)
            stats = cluster_agg.crossJoin(noise_agg).first()
            rep_labels.unpersist()
        if not stats["n_clusters"]:
            # zero clusters at this ε: every original row is noise
            # and there is no centroid to measure error against
            return (float(eps), 0, n_total, 0.0, inf, inf)
        ce = float(stats["err"] or 0.0)
        ne = float(stats["nerr"] or 0.0)
        return (
            float(eps),
            int(stats["n_clusters"]),
            int(stats["n_noise"]),
            ce,
            ne,
            ce + ne,
        )

    try:
        from dbscan_pyspark_spark.compat import concurrent_map_ordered

        rows = concurrent_map_ordered(_one_eps, sorted(eps_values))
    finally:
        all_pairs.unpersist()
        reps.unpersist()

    metrics = spark.createDataFrame(
        rows,
        "eps double, n_clusters long, n_noise long, cluster_error double, "
        "noise_error double, total_error double",
    )
    best = min(rows, key=lambda r: (r[5], r[0]))[0]
    return metrics, best
