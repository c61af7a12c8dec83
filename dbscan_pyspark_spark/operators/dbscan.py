"""Distributed DBSCAN with the reference's exact cluster semantics.

Pipeline (all DataFrame ops — SURVEY.md §3.1 rebuilt declaratively):

1. ε-pairs via the grid-bucketed self-join (not cartesian);
2. core points: neighbor count (incl. self and duplicate rows) >=
   min_pts (``DBSCAN.py:161``, HAVING semantics — P3);
3. edges core -> every ε-neighbor (``flattenPair``, ``DBSCAN.py:119-124,162``);
4. undirected connected components over those edges, vertices = all
   points (``DBSCAN.py:157,169-172``) — or, with ``variant='scc'``,
   only mutual core-core edges survive, reproducing the directed
   strongly-connected-components variant
   (``DBSCAN-strongly-connected-component.py:174``): clusters are sets
   of mutually-reachable core points, border points fall out;
5. components with >= min_cluster_size members are clusters, everything
   else is noise (``DBSCAN.py:176-181`` — the anonymity k, not min_pts).

Everything runs on the contracted rep graph: points sharing a feature
vector are interchangeable (same neighbors, core status and component),
so the pipeline runs over *distinct* vectors weighted by multiplicity
and labels expand back by vector equality — orders of magnitude fewer
pairs on quantized data (integer quasi-identifiers), one extra groupBy
on continuous data. Counts use multiplicities, so results are
bit-identical to an uncontracted run (an edgeless duplicate group is
still |group| singletons). The core is shared: eps_join.py holds the
contraction, weighted counts and expansion (``neighbor_counts`` uses
them too), :func:`_labeled_reps` the pairs -> cores -> edges -> CC ->
cluster-id labelling (``eps_sweep`` runs it per ε), components.py the
numpy min-root union-find.

Note the reference quirk, preserved on purpose: because edges run core ->
*all* neighbors, two cores farther than ε apart can merge through a
shared border point. That is its documented behavior (SURVEY.md §7).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.components import connected_components
from dbscan_pyspark_spark.operators.eps_join import (
    _contract_reps,
    _dim_of,
    _expand_reps,
    _weighted_counts,
    eps_join,
)

# Pair-join shape crossover, by rep count: below it the symmetric join
# wins (cheap join, stage overhead dominates: ~11.6s vs ~17.7s at sf0.1,
# 58k reps); above it unique pairs halve the candidate build and the
# distance evaluations, which dominate once the rep set stays large. A
# judgment call between the measured regimes — revisit at cluster scale.
_HALF_PAIR_THRESHOLD = 500_000

# Below this rep count the label map (rep features + cluster id) is
# broadcast for the final expansion join, so the original points are
# never shuffled at all: measured 1.7s -> <0.1s at 600k points / 58k
# reps. ~1M reps * ~100B/row ≈ 100 MB broadcast — acceptable on any
# executor sizing we'd deploy; above it the expansion falls back to a
# shuffle join keyed by the feature hash (cheap long key, exact
# feature-equality residual).
_BROADCAST_EXPAND_THRESHOLD = 1_000_000


@contextmanager
def _labeled_reps(
    pairs: DataFrame,
    reps: DataFrame,
    n_reps: int,
    min_pts: int,
    min_cluster_size: int,
    id_col: str,
    features: str,
    half: bool,
    variant: str = "cc",
):
    """Yields every rep of ``reps`` labeled:
    ``DataFrame(id_col, features, _mult, cluster_id, _solo)``.

    ``pairs`` is the ``_mult``-carrying ε-join of ``reps`` with itself:
    unique a<b pairs when ``half``, else symmetric with self-pairs. The
    edges stay cached until the context exits: distributed labels keep
    their lineage.
    """
    counts = _weighted_counts(pairs, reps, id_col, half)
    cores = counts.where(F.col("n_neighbors") >= F.lit(int(min_pts))).select(
        F.col("pid").alias("core_id")
    )
    if n_reps <= _BROADCAST_EXPAND_THRESHOLD:
        # <= n_reps single-long rows: broadcasting turns the core-filter
        # join into a map-side probe of the pairs instead of shuffling
        # the whole pair relation.
        cores = F.broadcast(cores)
    if half:
        # reference edges run core -> every ε-neighbor incl. itself:
        # mirror the half pairs and add core self-loops.
        sym = pairs.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).unionAll(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        edges = sym.join(cores, sym["src"] == cores["core_id"]).select(
            "src", "dst"
        ).unionAll(
            cores.select(F.col("core_id").alias("src"), F.col("core_id").alias("dst"))
        )
    else:
        edges = pairs.join(cores, pairs["a_id"] == cores["core_id"]).select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        )
    if variant == "scc":
        # Directed mutual reachability == both orientations present ==
        # core-core ε-pairs.
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        edges = edges.intersect(rev)
    edges = edges.persist()
    try:
        # connected_components labels every edge participant, including
        # cores whose only edge is their self-loop (a duplicate group
        # dense enough to be its own cluster), so no vertex list — and
        # no distinct over the full edge relation — is needed; reps in
        # no edge come out of the left join below unlabeled.
        labels = connected_components(edges, id_col=id_col, as_pandas=True)
        import pandas as pd

        spark = reps.sparkSession
        labels_is_pdf = isinstance(labels, pd.DataFrame)
        if n_reps <= _BROADCAST_EXPAND_THRESHOLD or (
            labels_is_pdf and len(labels) <= _BROADCAST_EXPAND_THRESHOLD
        ):
            # Driver-side finish, bounded like the broadcast label map:
            # two Arrow pulls and vectorized pandas instead of four small
            # shuffle joins (~8 s -> ~2 s on the sf0.1 lineitem cloud).
            graph_labels = _driver_graph_labels(
                labels if labels_is_pdf else labels.toPandas(),
                reps.select(id_col, "_mult").toPandas(),
                min_cluster_size, id_col, spark,
            )
        else:
            if labels_is_pdf:
                # driver union-find, but too many labels to broadcast back
                labels = spark.createDataFrame(labels, f"{id_col} long, component long")
            # component mass = sum of member multiplicities (original rows)
            sizes = (
                labels.join(reps.select(id_col, "_mult"), id_col)
                .groupBy("component")
                .agg(F.sum("_mult").alias("_n"))
            )
            graph_labels = labels.join(sizes, "component").select(
                F.col(id_col),
                F.when(
                    F.col("_n") >= F.lit(int(min_cluster_size)), F.col("component")
                ).alias("cluster_id"),
                F.lit(True).alias("_in_graph"),
            )
        yield _with_rep_labels(reps, graph_labels, id_col, features, min_cluster_size)
    finally:
        edges.unpersist()


def _driver_graph_labels(lab, mult, min_cluster_size, id_col, spark) -> DataFrame:
    """Broadcast graph labels ``(id_col, cluster_id, _in_graph)`` from
    pandas ``lab (id_col, component)`` and ``mult (id_col, _mult)``: a
    component is a cluster iff its mass reaches ``min_cluster_size``."""
    m = lab.merge(mult, on=id_col, how="left")
    mass = m.groupby("component")["_mult"].transform("sum")
    m["cluster_id"] = m["component"].astype("Int64").where(mass >= int(min_cluster_size))
    m["_in_graph"] = True
    return F.broadcast(
        spark.createDataFrame(
            m[[id_col, "cluster_id", "_in_graph"]],
            f"{id_col} long, cluster_id long, _in_graph boolean",
        )
    )


def _with_rep_labels(
    reps: DataFrame,
    graph_labels: DataFrame,
    id_col: str,
    features: str,
    min_cluster_size: int,
) -> DataFrame:
    """Every rep with its label. ``graph_labels`` covers the reps in some
    edge; any other rep is noise, or ``_solo`` when
    ``min_cluster_size <= 1``: each of its rows is a singleton cluster."""
    solo = F.col("_in_graph").isNull() & F.lit(min_cluster_size <= 1)
    return reps.select(id_col, features, "_mult").join(
        graph_labels, id_col, "left"
    ).select(
        id_col,
        features,
        "_mult",
        F.when(solo, F.col(id_col)).otherwise(F.col("cluster_id")).alias("cluster_id"),
        solo.alias("_solo"),
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    min_cluster_size: int | None = None,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    variant: str = "cc",
) -> DataFrame:
    """Cluster ``points`` -> DataFrame(id, cluster_id, is_noise).

    ``cluster_id`` is the minimum member id of the cluster (stable,
    deterministic — unlike GraphFrames' internal component numbering);
    NULL for noise. ``min_cluster_size`` defaults to ``min_pts`` and is
    the reference's k-anonymity threshold (``DBSCAN.py:47,176``).

    The ε-pair relation is symmetric below ``_HALF_PAIR_THRESHOLD``
    reps and unique-pairs above (an AQE-style size-adaptive choice;
    both give identical labels); the rep count is one cheap job over
    the persisted contraction and also picks the expansion strategy.
    """
    if min_cluster_size is None:
        min_cluster_size = min_pts
    if variant not in ("cc", "scc"):
        raise ValueError(f"variant must be 'cc' or 'scc', got {variant!r}")

    # The input lineage (often a window/exchange-bearing view) feeds both
    # the contraction and the final expansion join — cache it once.
    points = points.persist()
    if dim is None:
        dim = _dim_of(points, features)
    reps = _contract_reps(points, features, id_col, dim).persist()
    n_reps = reps.count()
    half = n_reps >= _HALF_PAIR_THRESHOLD

    # Multiplicities (how many original rows each rep stands for) ride
    # through the cell join as payload — joining them onto the pair set
    # afterwards would shuffle the pairs a second time.
    pairs = None
    try:
        pairs = eps_join(
            reps, reps, eps, metric=metric, features=features, id_col=id_col,
            dim=dim, keep_distance=False, payload_a=["_mult"] if half else None,
            payload_b=["_mult"], unique_pairs=half,
        ).persist()
        with _labeled_reps(
            pairs, reps, n_reps, min_pts, min_cluster_size, id_col, features,
            half, variant,
        ) as labeled:
            # an edgeless rep's original rows are singleton clusters of
            # themselves (``_solo``), each labeled with its own row id
            out = _expand_reps(
                points,
                labeled.select(features, "cluster_id", "_solo"),
                features,
                id_col,
                broadcast=n_reps <= _BROADCAST_EXPAND_THRESHOLD,
            ).select(
                id_col,
                F.when(F.col("_solo"), F.col(id_col))
                .otherwise(F.col("cluster_id"))
                .alias("cluster_id"),
            ).withColumn("is_noise", F.col("cluster_id").isNull())
            out = out.localCheckpoint(eager=True)
    finally:
        if pairs is not None:
            pairs.unpersist()
        reps.unpersist()
        points.unpersist()
    return out


def dbscan_assign(
    new_points: DataFrame,
    trained_points: DataFrame,
    labels: DataFrame,
    eps: float,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> DataFrame:
    """Classify NEW points against a trained clustering (DBSCAN
    inference): a new point takes the cluster of its nearest labeled
    (non-noise) trained point within ``eps``; no such neighbor → noise.

    ``labels`` is :func:`dbscan`'s output for ``trained_points``.
    Ties break deterministically on (distance, cluster_id, member id).
    Nearest-MEMBER semantics (not nearest-core): every non-noise
    trained point attracts, which is the anonymization use case's
    contract (each labeled point already belongs to exactly one
    k-anonymous cell); classical core-only prediction is recoverable by
    passing a core-filtered ``labels``.

    Scale shape: the same grid-bucketed ε-join as training (no
    cartesian), cluster ids riding the join as payload; one groupBy on
    the new-point id for the argmin; the trained side shuffles once.
    Returns DataFrame(id, cluster_id, is_noise) for the new points.
    """
    members = trained_points.join(
        labels.where(~F.col("is_noise")).select(id_col, "cluster_id"),
        id_col,
    ).select(id_col, features, "cluster_id")
    pairs = eps_join(
        new_points,
        members,
        eps,
        metric=metric,
        features=features,
        id_col=id_col,
        dim=dim,
        keep_distance=True,
        payload_b=["cluster_id"],
    )
    best = (
        pairs.groupBy("a_id")
        .agg(
            F.min(
                F.struct(
                    F.col("distance"), F.col("b_cluster_id"), F.col("b_id")
                )
            ).alias("_best")
        )
        .select(
            F.col("a_id").alias(id_col),
            F.col("_best.b_cluster_id").alias("cluster_id"),
        )
    )
    return (
        new_points.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.col("cluster_id").isNull().alias("is_noise"),
        )
    )
