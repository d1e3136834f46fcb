"""ML-layer invariants (the tolerance-band tier of SURVEY.md §5 —
properties the reference asserts on its golden pipelines, adapted)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scarf_spark.ml import cluster, hvg, metrics, pseudotime, reduction
from scarf_spark.operators import knn


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def edges(emb):
    return knn.cosine_knn_exact(emb, k=5).cache()


def test_pca_orthonormal_and_ordered(spark, sf_dir):
    from scarf_spark.catalog import DataStore

    ds = DataStore(spark, sf_dir)
    counts = ds.counts()
    feats = [
        int(r["feat_id"])
        for r in counts.groupBy("feat_id").agg(F.sum("value").alias("t"))
        .orderBy(F.desc("t"), "feat_id").limit(8).collect()
    ]
    vec = reduction.assemble_vectors(counts, feats)
    z = reduction.zscore_vectors(vec)
    loadings, ev = reduction.pca_fit(z, k=3)
    # orthonormal columns
    assert np.allclose(loadings.T @ loadings, np.eye(3), atol=1e-8)
    # explained variance is sorted descending and positive
    assert ev == sorted(ev, reverse=True) and ev[-1] > 0


def test_kmeans_deterministic_partition(emb):
    """The testdata embeddings are isotropic (no geometric label
    structure), so the invariant is determinism + shape: same seed →
    identical assignment, k clusters, all cells covered."""
    feats = emb.select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("v"))
    km1 = cluster.kmeans_mllib(feats, k=4, seed=4466).toPandas().sort_values("cell_id")
    km2 = cluster.kmeans_mllib(feats, k=4, seed=4466).toPandas().sort_values("cell_id")
    assert (km1["cluster"].to_numpy() == km2["cluster"].to_numpy()).all()
    assert km1["cluster"].nunique() == 4
    assert len(km1) == emb.count()


def test_kmeans_lloyd_matches_numpy(emb):
    """kmeans_lloyd is seedless-deterministic: replay the exact md5
    init + 5 Lloyd iterations in numpy and require identical
    assignments (the SQL oracle replays the same recipe)."""
    import hashlib

    feats = emb.select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("v"))
    got = {
        r["cell_id"]: r["cluster"]
        for r in cluster.kmeans_lloyd(feats, k=4, n_iter=5).collect()
    }
    rows = feats.collect()
    ids = np.array([r["cell_id"] for r in rows])
    X = np.array([list(map(float, r["v"])) for r in rows])
    order = sorted(
        range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i])
    )
    cents = X[order[:4]].copy()
    cids = np.arange(1, 5)
    for _ in range(5):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        keep = np.unique(a)
        cents = np.array([X[a == c].mean(axis=0) for c in keep])
        cids = cids[keep]
    d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = cids[d.argmin(axis=1)]
    assert all(got[i] == w for i, w in zip(ids, want))


def test_label_prop_coarsens(edges):
    out = cluster.label_propagation(edges, n_iter=3)
    n_clusters = out.select("cluster").distinct().count()
    n_nodes = out.count()
    assert n_clusters < n_nodes / 2


def test_louvain_deterministic(edges):
    a = cluster.louvain_driver(edges, seed=4466).toPandas().sort_values("node")
    b = cluster.louvain_driver(edges, seed=4466).toPandas().sort_values("node")
    assert (a["cluster"].to_numpy() == b["cluster"].to_numpy()).all()
    assert a["cluster"].nunique() >= 2


def test_pseudotime_range_and_source(edges):
    pt = pseudotime.pba_pseudotime(
        edges.withColumn("weight", 1.0 / (1.0 + F.col("distance"))), source_node=0
    ).toPandas()
    assert pt["pseudotime"].between(0, 1).all()
    assert len(pt) == edges.select("src").distinct().count()


def test_harmonic_potential_orders_path(spark):
    """On a path graph the potential decreases monotonically along the
    interior chain away from the source — the same ordering the exact
    pinv potential produces (endpoints deviate under the random-walk
    Laplacian because their degree differs; pinv shows the identical
    endpoint behavior)."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(9)], ["src", "dst", "weight"]
    )
    pt = (
        pseudotime.harmonic_potential(edges, source_node=0, n_iter=40)
        .toPandas()
        .sort_values("node")["pseudotime"]
        .to_numpy()
    )
    assert pt[1] == 1.0  # chain max adjacent to the source
    assert all(pt[i] > pt[i + 1] for i in range(1, 8))
    assert pt[0] > pt[2]  # source ranks above its 2-hop neighbor


def test_harmonic_potential_matches_numpy_replay(spark):
    """The distributed fixed-iteration loop computes exactly the same
    deflated Richardson recursion as a dense numpy replay."""
    import numpy as np

    raw = [(0, 1, 0.5), (1, 2, 2.0), (2, 3, 1.0), (3, 0, 0.25), (1, 3, 1.5)]
    n = 4
    a = np.zeros((n, n))
    for i, j, w in raw:
        a[i, j] += w
        a[j, i] += w
    d = a.sum(axis=0)
    m = a / d[None, :]
    b = np.full(n, -1.0 / (n - 1))
    b[0] = 1.0
    v = b.copy()
    for _ in range(16):
        u = b + m @ v
        v = u - d * u.sum() / d.sum()
    want = np.round((v - v.min()) / (v.max() - v.min()), 6)
    edges = spark.createDataFrame(raw, ["src", "dst", "weight"])
    got = (
        pseudotime.harmonic_potential(edges, source_node=0, n_iter=16)
        .toPandas()
        .sort_values("node")["pseudotime"]
        .to_numpy()
    )
    assert np.abs(got - want).max() < 1e-9


def test_pseudotime_solve_matches_pinv():
    """The rank-one-corrected LU solve in pba_pseudotime is exactly
    L⁺b: (L + 1·dᵀ/1ᵀd)x = b with 1ᵀb = 0 forces dᵀx = 0, the
    pinv-defining side condition."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 120
    a = rng.random((n, n)) * (rng.random((n, n)) < 0.1)
    a = a + a.T
    deg = a.sum(axis=1)
    deg[deg == 0] = 1.0
    lap = np.eye(n) - a / deg[None, :]
    b = np.full(n, -1.0 / (n - 1))
    b[0] = 1.0
    want = np.linalg.pinv(lap) @ b
    got = np.linalg.solve(lap + np.outer(np.ones(n), deg) / deg.sum(), b)
    assert np.abs(want - got).max() < 1e-10
    assert abs(deg @ got) < 1e-9


def test_lisi_bounds(edges, emb):
    labels = emb.select(F.col("vec_id").alias("cell_id"), "label")
    n_labels = emb.select("label").distinct().count()
    out = metrics.lisi(edges, labels, perplexity=3.0).toPandas()
    assert (out["lisi"] >= 1.0 - 1e-9).all()
    assert (out["lisi"] <= n_labels + 1e-9).all()


def test_hvg_top_n(spark, sf_dir):
    from scarf_spark.catalog import DataStore

    ds = DataStore(spark, sf_dir)
    counts = ds.counts()
    n_cells = counts.select("cell_id").distinct().count()
    out = hvg.mark_hvgs_binned(counts, n_cells, n_bins=10, top_n=50)
    assert out.count() == 50
    assert out.agg(F.max("hvg_rank")).collect()[0][0] == 50


def test_dendrogram_cut(edges):
    lim = edges.limit(200).withColumn("weight", 1.0 / (1.0 + F.col("distance")))
    merges, leaf_ids = cluster.paris_like_dendrogram(lim)
    labels = cluster.cut_dendrogram(merges, leaf_ids, n_clusters=4)
    assert set(labels) == {int(r["src"]) for r in lim.collect()} | {
        int(r["dst"]) for r in lim.collect()
    }
    # a cut at k can only produce <= k + (n_components - 1) groups;
    # with 200 edges over 500 nodes the graph is disconnected, so just
    # check the cut reduced the leaf count and is deterministic
    labels2 = cluster.cut_dendrogram(merges, leaf_ids, n_clusters=4)
    assert labels == labels2
    assert len(set(labels.values())) < len(leaf_ids)


def test_logreg_gd_learns_separating_direction(spark):
    """On linearly separated data the learned weights point toward the
    positive class along the separating dimension."""
    import numpy as np

    from scarf_spark.ml.supervised import logreg_gd

    rng = np.random.default_rng(11)
    rows = []
    for i in range(100):
        x = rng.normal(size=8)
        y = 0 if i % 2 == 0 else 1
        x[3] += 3.0 if y == 0 else -3.0  # dim 3 separates, pos_label=0
        rows.append((i, [float(v) for v in x], y))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["d"]: r["w"] for r in logreg_gd(emb, n_iter=3, lr=0.5).collect()}
    assert out[3] > 0.1  # strongly positive on the separating dim
    assert abs(out[0]) < abs(out[3])  # noise dims stay small
    # deterministic across runs
    out2 = {r["d"]: r["w"] for r in logreg_gd(emb, n_iter=3, lr=0.5).collect()}
    assert out == out2


def test_centroid_classify_separable(spark):
    """Well-separated clusters classify perfectly; the confusion matrix
    is diagonal."""
    import numpy as np

    from scarf_spark.ml.supervised import centroid_classify

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        y = i % 3
        x = rng.normal(scale=0.1, size=8)
        x[y] += 5.0
        rows.append((i, [float(v) for v in x], y))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = centroid_classify(emb).collect()
    assert all(r["true_label"] == r["pred_label"] for r in out)
    assert sum(r["n"] for r in out) == 60


def test_leiden_recovers_cliques(spark):
    from scarf_spark.ml.cluster import leiden_driver

    # ring of three 5-cliques, single bridge edges between them
    edges = []
    for c in range(3):
        base = c * 10
        edges += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(4, 10), (14, 20), (24, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["cluster"] for r in leiden_driver(df).collect()}
    # each clique is one community labeled by its smallest member
    for c in range(3):
        base = c * 10
        labels = {out[base + i] for i in range(5)}
        assert labels == {base}
    # deterministic across runs
    out2 = {r["node"]: r["cluster"] for r in leiden_driver(df).collect()}
    assert out == out2


def test_leiden_communities_are_connected(spark):
    from scarf_spark.ml.cluster import leiden_driver

    # two triangles joined via a shared hub: communities must be
    # internally connected (Leiden's guarantee over Louvain)
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10),
             (0, 5), (5, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["cluster"] for r in leiden_driver(df).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    from collections import deque
    groups = {}
    for v, c in out.items():
        groups.setdefault(c, set()).add(v)
    for c, members in groups.items():
        seen, dq = {min(members)}, deque([min(members)])
        while dq:
            v = dq.popleft()
            for u in adj.get(v, ()):  # walk only inside the community
                if u in members and u not in seen:
                    seen.add(u)
                    dq.append(u)
        assert seen == members, f"community {c} is disconnected"


def test_harmonic_potential_fails_loud_on_degenerate_input(spark):
    import pytest as _pt

    e1 = spark.createDataFrame([(0, 1, 1.0)], ["src", "dst", "weight"])
    with _pt.raises(ValueError, match="source node 7"):
        pseudotime.harmonic_potential(e1, source_node=7, n_iter=2)


def test_spectral_embedding_fails_loud_when_dims_too_large(spark):
    import pytest as _pt
    from scarf_spark.ml.embed import spectral_embedding

    e1 = spark.createDataFrame([(0, 1, 1.0)], ["src", "dst", "weight"])
    with _pt.raises(ValueError, match="more nodes"):
        spectral_embedding(e1, dims=2, n_iter=2)


def test_zscore_gram_matches_two_pass_chain(spark, sf_dir):
    """The fused one-pass zscore_gram must reproduce the
    zscore_vectors -> pca_fit chain: z bit-equal (identical param
    expressions), Gram/loadings equal to analytic-expansion noise."""
    from scarf_spark.catalog import DataStore

    ds = DataStore(spark, sf_dir)
    counts = ds.counts()
    feats = [
        int(r["feat_id"])
        for r in counts.groupBy("feat_id").agg(F.sum("value").alias("t"))
        .orderBy(F.desc("t"), "feat_id").limit(8).collect()
    ]
    vec = reduction.assemble_vectors(counts, feats)
    z_ref = reduction.zscore_vectors(vec, d=8)
    load_ref, ev_ref = reduction.pca_fit(z_ref, k=3, d=8)
    z_fused, gram, n = reduction.zscore_gram(vec, d=8)
    load_f, ev_f = reduction.pca_fit_gram(gram, n, k=3)
    # z bit-equal: same mu/sd float expressions feed both frames
    a = {r["cell_id"]: r["v"] for r in z_ref.collect()}
    b = {r["cell_id"]: r["v"] for r in z_fused.collect()}
    assert a == b
    # loadings/eigenvalues agree far below the ROUND(6) pivot
    assert np.allclose(load_ref, load_f, atol=1e-9)
    assert np.allclose(ev_ref, ev_f, atol=1e-9)


def test_zscore_gram_extreme_offset_falls_back_to_two_pass(spark):
    """r15 ADVICE: when |mu| >> sd the analytic four-term expansion
    catastrophically cancels; zscore_gram must detect the regime
    (|mu|/sd > 1e4) and recompute the Gram from the z-scored values.
    Means ~1e7 with sd ~1 would lose ~(1e7)^2 ULPs analytically — the
    guarded result must still match the two-pass chain tightly."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [1.0e7 + rng.random(), -5.0e6 + rng.random()]) for i in range(64)
    ]
    vec = spark.createDataFrame(rows, "cell_id long, v array<double>")
    z_ref = reduction.zscore_vectors(vec, d=2)
    load_ref, ev_ref = reduction.pca_fit(z_ref, k=2, d=2)
    z_fused, gram, n = reduction.zscore_gram(vec, d=2)
    load_f, ev_f = reduction.pca_fit_gram(gram, n, k=2)
    a = {r["cell_id"]: r["v"] for r in z_ref.collect()}
    b = {r["cell_id"]: r["v"] for r in z_fused.collect()}
    assert a == b  # z params identical regardless of the Gram path
    assert np.allclose(load_ref, load_f, atol=1e-9)
    assert np.allclose(ev_ref, ev_f, atol=1e-9)


def _vec_table(spark, x, n_partitions):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    return spark.sparkContext.parallelize(rows, n_partitions).toDF(
        "cell_id long, v array<double>"
    )


@pytest.mark.parametrize(
    "n_rows, n_partitions",
    [(5, 12), (1, 1), (1, 4)],
    ids=["empty-partitions", "one-row", "one-row-empty-partitions"],
)
def test_gram_moments_edge_partitions(spark, n_rows, n_partitions):
    """The Arrow-batched moment pass behind pca_fit / zscore_vectors /
    zscore_gram on a table with empty partitions and on a one-row
    table: n, the means and the Gram equal numpy's X.T @ X."""
    d = 4
    x = np.random.default_rng(3).normal(0.5, 1.0, (n_rows, d))
    vec = _vec_table(spark, x, n_partitions)
    assert vec.rdd.getNumPartitions() == n_partitions

    n, s, g = reduction._gram_moments(vec, d)
    assert n == n_rows
    assert np.allclose(s / n, x.mean(axis=0), rtol=0, atol=1e-12)
    assert np.allclose(g, x.T @ x, rtol=0, atol=1e-12)

    # pca_fit over all d components reconstructs X'X / max(n - 1, 1)
    load, ev = reduction.pca_fit(vec, k=d, d=d)
    cov = x.T @ x / max(n_rows - 1, 1)
    assert np.allclose(load @ np.diag(ev) @ load.T, cov, rtol=0, atol=1e-12)

    # z-scores: population mean / sd, sd floored at 1e-6 (the 1e-12
    # variance floor) — one row z-scores to all zeros
    mu = x.mean(axis=0)
    sd = np.sqrt(np.maximum((x * x).mean(axis=0) - mu * mu, 1e-12))
    want_z = (x - mu) / sd
    z = reduction.zscore_vectors(vec, d=d).toPandas().sort_values("cell_id")
    got_z = np.stack(z["v"].to_numpy())
    assert np.allclose(got_z, want_z, rtol=0, atol=1e-12)

    z_f, gram, n_f = reduction.zscore_gram(vec, d=d)
    assert n_f == n_rows
    got_zf = np.stack(z_f.toPandas().sort_values("cell_id")["v"].to_numpy())
    assert np.array_equal(got_zf, got_z)  # same z expressions as zscore_vectors
    assert np.allclose(np.array(gram), want_z.T @ want_z, rtol=0, atol=1e-12)
