"""Workloads of the anonymization-pipeline benchmark.

Each workload writes its inputs as files, then runs one *pass* of a
pipeline from those files to a result forced through one checking
aggregation, and checks that result. The inputs are fixed tables whose
rows and ids the ``--seed`` argument permutes; the program only sees
the generated files.

A pass opens one span per layer around the calls it makes from here;
``SITES`` lists the import sites inside the program that the traced run
wraps as well, so nested layer calls get their own spans.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np

# (module, name, layer) import sites wrapped in the traced run. eps_join
# is lazy — it returns a plan whose work lands in its caller's jobs — so
# it is measured by the isolation probe instead (AnonLineitem.probe).
SITES = [
    ("dbscan_pyspark_spark.operators.dbscan", "connected_components", "components"),
    ("dbscan_pyspark_spark.operators.anonymize", "connected_components", "components"),
    ("dbscan_pyspark_spark.operators.anonymize", "assign_nearest", "anonymize"),
    ("dbscan_pyspark_spark.operators.anonymize", "cluster_centroids", "anonymize"),
    ("dbscan_pyspark_spark.operators.kmember", "assign_nearest", "anonymize"),
]

# Every input table is drawn from this fixed seed, so each pass does the
# same work; the workload seed permutes rows and ids (and seeds the
# k-member initialisation), which moves partitioning and tie-breaks.
BASE_SEED = 42
REL_TOL = 1e-9  # sums of doubles move in the last digits between passes


@dataclass
class PassResult:
    rows: int  # input rows of the pass
    info_loss: float
    errors: list[str] = field(default_factory=list)
    facts: dict[str, float] = field(default_factory=dict)  # must repeat exactly


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)


def _l1(a, b, dim: int):
    from pyspark.sql import functions as F

    return sum((F.abs(F.col(a)[i] - F.col(b)[i]) for i in range(dim)), F.lit(0.0))


# ---------------------------------------------------------------- inputs


def write_lineitem(rng, path: str, n: int, price_hi: float) -> int:
    """A lineitem table whose QI columns have the sf0.1 marginals:
    quantity 1-50, extendedprice uniform from 900, discount 0-0.10,
    linenumber 1-7 (the sensitive column). ``price_hi`` sets the price
    range and so the number of distinct (quantity, price/1000, discount)
    vectors. Like the fixed sf0.1 file it stands in for, the rows are
    always the same; ``rng`` only permutes them, which moves the point
    ids and the partitioning. Returns the sensitive-column sum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = np.random.default_rng(BASE_SEED)
    line = base.integers(1, 8, n)
    cols = {
        "l_linenumber": line.astype(np.int32),
        "l_quantity": base.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(base.uniform(900.0, price_hi, n), 2),
        "l_discount": base.integers(0, 11, n) / 100.0,
    }
    perm = rng.permutation(n)
    t = pa.table({"l_orderkey": np.arange(n, dtype=np.int64) // 4, **{k: v[perm] for k, v in cols.items()}})
    pq.write_table(t, os.path.join(path, "lineitem.parquet"))
    return int(line.sum())


# FIXTURES.md §2: the reference's data10k_6attr ranges, sensitive 1-5
_POINTS7_RANGES = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20), (1, 5)]


def write_points7(rng, path: str, n: int) -> int:
    """Headerless integer CSV of the reference's 7-column shape. The
    rows are always the same; ``rng`` permutes them, which moves the
    point ids. Returns the sensitive-column sum."""
    base = np.random.default_rng(BASE_SEED)
    cols = np.stack([base.integers(lo, hi + 1, n) for lo, hi in _POINTS7_RANGES], axis=1)
    np.savetxt(path, cols[rng.permutation(n)], fmt="%d", delimiter=",")
    return int(cols[:, 6].sum())


_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer string"
).split()


def write_documents(rng, path: str, n: int, dup_frac: float = 0.2) -> dict[int, str]:
    """The sf0.1 documents shape: 8-80 words over a 30-word vocabulary,
    with a ``dup_frac`` share of documents planted as edited copies of
    an earlier one (2-12% of the words redrawn). The texts are always
    the same; ``rng`` permutes their ids and row order. Returns the
    texts by id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = np.random.default_rng(BASE_SEED)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 0 and base.random() < dup_frac:
            words = list(docs[int(base.integers(0, i))])
            for j in base.choice(len(words), int(len(words) * base.uniform(0.02, 0.12)), replace=False):
                words[j] = _VOCAB[int(base.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[int(w)] for w in base.integers(0, len(_VOCAB), int(base.integers(8, 81)))]
        docs.append(words)
    ids = rng.permutation(n)
    texts = {int(i): " ".join(w) for i, w in zip(ids, docs)}
    order = rng.permutation(n)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids[order].astype(np.int64),
                "text": [" ".join(docs[j]) for j in order],
            }
        ),
        os.path.join(path, "documents.parquet"),
    )
    return texts


def write_embeddings(rng, path: str, n: int, dim: int, n_topics: int = 16) -> None:
    """Unit vectors drawn around ``n_topics`` random directions. The
    vectors are always the same; ``rng`` permutes their ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = np.random.default_rng(BASE_SEED)
    centers = base.normal(size=(n_topics, dim))
    v = centers[base.integers(0, n_topics, n)] + 0.6 * base.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(v), type=pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": rng.permutation(n).astype(np.int64), "embedding": emb}),
        os.path.join(path, "embeddings.parquet"),
    )


def _trigram_jaccard(a: str, b: str) -> float:
    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


# ------------------------------------------------------------- workloads


class Workload:
    name = ""
    # warm passes the end-to-end run makes even when they outlast
    # ``--seconds``; its wall_s and cpu_s are medians over them
    min_warm_passes = 1

    def __init__(self, seed: int, datadir: str):
        self.seed = seed
        self.dir = datadir
        self.rng = np.random.default_rng(seed)
        os.makedirs(datadir, exist_ok=True)

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tr) -> PassResult:
        raise NotImplementedError

    def probe(self, spark, tr) -> dict[str, float]:
        """Isolation probe of the traced run; returns exact counts."""
        return {}


class AnonLineitem(Workload):
    """The DBSCAN anonymizer: ε sweep, DBSCAN at the best ε, centroid
    anonymization, on a lineitem QI cloud with many duplicate vectors.

    24,000 rows over 50 x 3 x 11 = 1,650 QI vectors, about 15 rows per
    vector: at ε = 1 only duplicates are neighbours, so the vectors with
    k or more rows become clusters (about 60) and every other row is
    noise mapped to its nearest centroid (about 22,000 rows), while
    ε = 2 joins everything into one cluster. The best ε is 1.
    """

    name = "anon_lineitem"
    k = 24
    eps_values = (1.0, 2.0)
    dim = 3
    n = 24_000
    price_hi = 3_490.0  # round(price / 1000) in {1, 2, 3}

    def generate(self):
        self.sens_sum = write_lineitem(self.rng, self.dir, self.n, self.price_hi)

    def run_pass(self, spark, tr) -> PassResult:
        from dbscan_pyspark_spark.operators.anonymize import anonymize, eps_sweep
        from dbscan_pyspark_spark.operators.dbscan import dbscan
        from dbscan_pyspark_spark.sources.tables import points_from_lineitem

        with tr.span("sources"):
            pts = points_from_lineitem(spark, self.dir)
        with tr.span("eps_sweep"):
            metrics, best = eps_sweep(pts, list(self.eps_values), self.k)
            sweep = {r["eps"]: r for r in metrics.collect()}[best]
        with tr.span("dbscan"):
            labels = dbscan(pts, best, self.k)
        with tr.span("anonymize"):
            groups = self._groups(anonymize(pts, labels))
        self.points, self.best_eps = pts, best
        return self._check(groups, sweep)

    def _groups(self, an):
        """The checking aggregation: one row per output cluster."""
        from pyspark.sql import functions as F

        member = ~F.col("is_noise")
        d = _l1("features", "an_features", self.dim)
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.sum(member.cast("long")).alias("members"),
            F.sum("sensitive").alias("sens"),
            F.sum(d).alias("loss"),
        ]
        for i in range(self.dim):
            aggs += [
                F.avg(F.when(member, F.col("features")[i])).alias(f"mean{i}"),
                F.min(F.col("an_features")[i]).alias(f"lo{i}"),
                F.max(F.col("an_features")[i]).alias(f"hi{i}"),
            ]
        return an.groupBy("cluster_id").agg(*aggs).collect()

    def _check(self, groups, sweep) -> PassResult:
        loss = math.fsum(g["loss"] for g in groups)
        r = PassResult(self.n, loss)
        noise = sum(g["rows"] - g["members"] for g in groups)
        r.facts = {"anonymize.clusters": len(groups), "anonymize.noise_rows": noise}
        e = r.errors
        if sum(g["rows"] for g in groups) != self.n:
            e.append("row count not preserved")
        if sum(g["sens"] for g in groups) != self.sens_sum:
            e.append("sensitive-column sum not preserved")
        if (len(groups), noise) != (sweep["n_clusters"], sweep["n_noise"]):
            e.append(
                f"(clusters, noise) {(len(groups), noise)} != sweep "
                f"{(sweep['n_clusters'], sweep['n_noise'])}"
            )
        if not _close(loss, sweep["total_error"]):
            e.append(f"info loss {loss!r} != sweep total_error {sweep['total_error']!r}")
        if not groups or min(g["members"] for g in groups) < self.k:
            e.append(f"no clusters, or a cluster with fewer than k={self.k} members")
        for g in groups:
            for i in range(self.dim):
                lo, hi, mean = g[f"lo{i}"], g[f"hi{i}"], g[f"mean{i}"]
                if lo != hi or not _close(lo, mean):
                    e.append(f"cluster {g['cluster_id']} is not generalized to its centroid")
                    break
        return r

    def probe(self, spark, tr):
        """eps_self_join over the distinct vectors (the relation both
        eps_sweep and dbscan join) at the largest and the best ε, each
        sent to the noop sink inside an ``eps_join`` span. Counts the
        pairs at the largest ε, the relation eps_sweep collects."""
        from pyspark.sql import functions as F

        from dbscan_pyspark_spark.operators.eps_join import eps_self_join

        reps = self.points.groupBy("features").agg(F.min("id").alias("id")).persist()
        facts = {"dbscan.reps": reps.count()}
        for eps in (max(self.eps_values), self.best_eps):
            with tr.span("eps_join"):
                eps_self_join(reps, eps, dim=self.dim).write.format("noop").mode(
                    "overwrite"
                ).save()
        facts["eps_join.pairs"] = eps_self_join(reps, max(self.eps_values), dim=self.dim).count()
        reps.unpersist()
        return facts


class KMemberDedup(Workload):
    """k-member k-means with its anonymized output, then MinHash
    near-duplicate search and an IVF kNN graph: the iterative and
    scoring pipelines, with no ε-join and no DBSCAN."""

    name = "kmember_dedup"
    # The first warm pass still runs much of its 60 small jobs' Spark
    # code before the JIT has compiled it: with that pass alone, the
    # interquartile range of cpu_s over ten seeds reached 21% of the
    # median; the median of two passes kept it near 5%.
    min_warm_passes = 2
    n_points = 600
    k = 10
    n_clusters = 6  # n / 10k: clusters start near 100 members, no repairs
    max_iter = 1
    n_docs = 600
    threshold = 0.3
    n_vectors = 600
    vec_dim = 16
    knn_k = 5
    n_cells = 4  # about 150 vectors per IVF cell

    def generate(self):
        self.csv = os.path.join(self.dir, "points7.csv")
        write_points7(self.rng, self.csv, self.n_points)
        self.texts = write_documents(self.rng, self.dir, self.n_docs)
        write_embeddings(self.rng, self.dir, self.n_vectors, self.vec_dim)

    def run_pass(self, spark, tr) -> PassResult:
        from pyspark.sql import functions as F

        from dbscan_pyspark_spark.operators.dedup import minhash_near_dup_pairs
        from dbscan_pyspark_spark.operators.kmember import kmember_anonymize, kmember_kmeans
        from dbscan_pyspark_spark.operators.similarity import ivf_knn_graph
        from dbscan_pyspark_spark.sources.io import read_csv_points
        from dbscan_pyspark_spark.sources.tables import load_table

        with tr.span("sources"):
            pts = read_csv_points(spark, self.csv, 6)
            docs = load_table(spark, self.dir, "documents")
            vecs = load_table(spark, self.dir, "embeddings")
        with tr.span("kmember"):
            res = kmember_kmeans(
                pts, self.k, n_clusters=self.n_clusters, max_iter=self.max_iter, seed=self.seed
            )
            groups = (
                kmember_anonymize(pts, res)
                .join(pts.select("id", "features"), "id")
                .groupBy("cluster_id")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(_l1("features", "an_features", 6)).alias("loss"),
                )
                .collect()
            )
        with tr.span("dedup"):
            pairs = minhash_near_dup_pairs(docs, threshold=self.threshold).collect()
        with tr.span("similarity"):
            g = ivf_knn_graph(vecs, k=self.knn_k, n_cells=self.n_cells, nprobe=2)
            knn = (
                g.groupBy("src")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct("dst").alias("nd"),
                    F.sum((F.col("src") == F.col("dst")).cast("long")).alias("self"),
                    F.sum(1.0 - F.col("score")).alias("loss"),
                )
                .agg(
                    F.count(F.lit(1)).alias("n_src"),
                    F.sum("n").alias("edges"),
                    F.min("n").alias("n_lo"),
                    F.max("n").alias("n_hi"),
                    F.min("nd").alias("nd_lo"),
                    F.sum("self").alias("self"),
                    F.sum("loss").alias("loss"),
                )
                .first()
            )
        loss = math.fsum(g["loss"] for g in groups)
        r = PassResult(
            self.n_points + self.n_docs + self.n_vectors,
            loss,
            facts={
                "kmember.iters": res.n_iter,
                "dedup.pairs": len(pairs),
                "similarity.edges": knn["edges"],
            },
        )
        e = r.errors
        if sum(g["rows"] for g in groups) != self.n_points:
            e.append("k-member: row count not preserved")
        if len(groups) != self.n_clusters or min(g["rows"] for g in groups) < self.k:
            e.append(f"k-member: not {self.n_clusters} clusters of at least k={self.k} rows")
        if not _close(loss, res.cost):
            e.append(f"k-member: info loss {loss!r} != result.cost {res.cost!r}")
        for p in pairs:
            j = _trigram_jaccard(self.texts[p["a_id"]], self.texts[p["b_id"]])
            if not p["a_id"] < p["b_id"] or j < self.threshold or not _close(j, p["jaccard"]):
                e.append(f"near-dup pair {p} has exact Jaccard {j}")
                break
        k = self.knn_k
        got = (knn["n_src"], knn["n_lo"], knn["n_hi"], knn["nd_lo"], knn["self"])
        if got != (self.n_vectors, k, k, k, 0):
            e.append(f"kNN graph is not {k} distinct non-self neighbours per vector: {knn}")
        return r


WORKLOADS = {w.name: w for w in (AnonLineitem, KMemberDedup)}
