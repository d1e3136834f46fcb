"""Embedding-layer invariants (symmetrization algebra, init
determinism, layout reproducibility + locality)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scarf_spark.catalog import DataStore
from scarf_spark.ml import embed
from scarf_spark.operators import knn


@pytest.fixture(scope="module")
def edges(spark, sf_dir):
    emb = DataStore(spark, sf_dir).embeddings
    return knn.cosine_knn_exact(emb, k=5).withColumn(
        "weight", 1.0 / (1.0 + F.col("distance"))
    ).cache()


def test_symmetrize_is_symmetric(edges):
    sym = embed.symmetrize_edges(edges)
    a = sym.select("src", "dst", "weight")
    b = sym.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    # g' == g'ᵀ exactly
    assert a.exceptAll(b).count() == 0
    # probabilities stay in (0, 1]
    assert sym.where((F.col("weight") <= 0) | (F.col("weight") > 1)).count() == 0


def test_ini_embed_deterministic(spark, sf_dir):
    emb = DataStore(spark, sf_dir).embeddings
    vec = emb.select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = embed.ini_embed_kmeans_pca(vec, n_centroids=10).toPandas().sort_values("cell_id")
    b = embed.ini_embed_kmeans_pca(vec, n_centroids=10).toPandas().sort_values("cell_id")
    assert np.allclose(a[["ix", "iy"]].to_numpy(), b[["ix", "iy"]].to_numpy())
    assert np.abs(a[["ix", "iy"]].to_numpy()).max() <= 1.0 + 1e-9


def test_umap_layout_reproducible_and_local(spark, edges):
    sym = embed.symmetrize_edges(edges)
    nodes = [r["src"] for r in sym.select("src").distinct().collect()]
    rng = np.random.default_rng(1)
    init = spark.createDataFrame(
        [(int(n), float(x), float(y)) for n, (x, y) in
         zip(nodes, rng.normal(0, 0.1, (len(nodes), 2)))],
        ["cell_id", "ix", "iy"],
    )
    a = embed.umap_layout_driver(sym, init, n_epochs=10).toPandas().sort_values("cell_id")
    b = embed.umap_layout_driver(sym, init, n_epochs=10).toPandas().sort_values("cell_id")
    assert np.allclose(a[["umap1", "umap2"]].to_numpy(), b[["umap1", "umap2"]].to_numpy())
    # neighbors end closer than random pairs on average
    pos = {
        int(c): (float(x), float(y))
        for c, x, y in zip(a["cell_id"], a["umap1"], a["umap2"])
    }
    e = sym.select("src", "dst").collect()
    p = np.array([pos[r["src"]] for r in e])
    q = np.array([pos[r["dst"]] for r in e])
    d_edge = np.linalg.norm(p - q, axis=1).mean()
    rng2 = np.random.default_rng(2)
    ids = list(pos)
    ra = np.array([pos[i] for i in rng2.choice(ids, 2000)])
    rb = np.array([pos[i] for i in rng2.choice(ids, 2000)])
    d_rand = np.linalg.norm(ra - rb, axis=1).mean()
    assert d_edge < d_rand


def test_sgtsne_rescale_solves_lambda(edges):
    p = embed.sgtsne_rescale(edges, lam=1.0).toPandas()
    sums = p.groupby("src")["p"].sum()
    # per-source rescaled affinities sum to lambda (up to ROUND(6) per edge)
    assert np.abs(sums.to_numpy() - 1.0).max() < 1e-4
    # rescaled values stay in (0, 1]
    assert (p["p"] > 0).all() and (p["p"] <= 1.0).all()
    # same edge set as the input
    assert len(p) == edges.count()


def test_sgtsne_layout_reproducible_and_local(spark, edges):
    p = embed.sgtsne_rescale(edges, lam=1.0)
    nodes = [r["src"] for r in p.select("src").distinct().collect()]
    rng = np.random.default_rng(3)
    init = spark.createDataFrame(
        [(int(n), float(x), float(y)) for n, (x, y) in
         zip(nodes, rng.normal(0, 1.0, (len(nodes), 2)))],
        ["cell_id", "ix", "iy"],
    )
    a = embed.sgtsne_layout_driver(p, init, n_iter=30).toPandas().sort_values("cell_id")
    b = embed.sgtsne_layout_driver(p, init, n_iter=30).toPandas().sort_values("cell_id")
    assert np.allclose(a[["tsne1", "tsne2"]].to_numpy(), b[["tsne1", "tsne2"]].to_numpy())
    pos = {
        int(c): (float(x), float(y))
        for c, x, y in zip(a["cell_id"], a["tsne1"], a["tsne2"])
    }
    e = [r for r in p.select("src", "dst").collect() if r["dst"] in pos]
    pa = np.array([pos[r["src"]] for r in e])
    pb = np.array([pos[r["dst"]] for r in e])
    d_edge = np.linalg.norm(pa - pb, axis=1).mean()
    rng2 = np.random.default_rng(4)
    ids = list(pos)
    ra = np.array([pos[i] for i in rng2.choice(ids, 2000)])
    rb = np.array([pos[i] for i in rng2.choice(ids, 2000)])
    d_rand = np.linalg.norm(ra - rb, axis=1).mean()
    assert d_edge < d_rand


def test_densmap_improves_density_preservation(spark, edges):
    sym = embed.symmetrize_edges(edges).join(
        edges.select("src", "dst", "distance"), ["src", "dst"], "left"
    ).fillna({"distance": 1.0})
    nodes = [r["src"] for r in sym.select("src").distinct().collect()]
    rng = np.random.default_rng(5)
    init = spark.createDataFrame(
        [(int(n), float(x), float(y)) for n, (x, y) in
         zip(nodes, rng.normal(0, 0.1, (len(nodes), 2)))],
        ["cell_id", "ix", "iy"],
    )

    def radius_corr(layout):
        pos = {int(r["cell_id"]): (r["umap1"], r["umap2"])
               for r in layout.collect()}
        e = sym.select("src", "dst", "weight", "distance").collect()
        num, den, tin = {}, {}, {}
        for r in e:
            s = int(r["src"])
            p, q = np.array(pos[s]), np.array(pos[int(r["dst"])])
            d2 = float(((p - q) ** 2).sum())
            num[s] = num.get(s, 0.0) + r["weight"] * d2
            den[s] = den.get(s, 0.0) + r["weight"]
            tin[s] = tin.get(s, 0.0) + r["weight"] * r["distance"] ** 2
        ks = sorted(num)
        re = np.log([num[k] / den[k] + 1e-12 for k in ks])
        ri = np.log([tin[k] / den[k] + 1e-12 for k in ks])
        return float(np.corrcoef(re, ri)[0, 1])

    plain = embed.umap_layout_driver(sym, init, n_epochs=15)
    dens = embed.umap_layout_driver(
        sym, init, n_epochs=15, dens_lambda=2.0, input_dist="distance"
    )
    c0, c1 = radius_corr(plain), radius_corr(dens)
    # the density force must increase input/embedding radius correlation
    assert c1 > c0
    assert c1 > 0.2


def test_spectral_embedding_separates_clusters(spark):
    """e1 of the lazy-walk spectral layout splits two cliques joined by
    a weak bridge — the classic Fiedler-style structure recovery."""
    from scarf_spark.ml.embed import spectral_embedding

    raw = []
    for start in (0, 6):
        for a in range(6):
            for b in range(a + 1, 6):
                raw.append((start + a, start + b, 1.0))
    raw.append((0, 6, 0.2))
    edges = spark.createDataFrame(raw, ["src", "dst", "weight"])
    df = spectral_embedding(edges, dims=2, n_iter=10).toPandas()
    ga = df[df.node < 6]["e1"]
    gb = df[df.node >= 6]["e1"]
    # all of one clique on one side, all of the other on the other
    assert (ga > 0).all() != (gb > 0).all()
    assert abs(ga.mean() - gb.mean()) > 0.3


def test_spectral_embedding_partitioning_invariant(spark):
    from scarf_spark.ml.embed import spectral_embedding

    raw = [(i, (i * 5 + 2) % 17, 1.0 + (i % 3)) for i in range(30) if i != (i * 5 + 2) % 17]
    e = spark.createDataFrame(raw, ["src", "dst", "weight"])
    a = sorted(map(tuple, spectral_embedding(e, dims=2, n_iter=5).collect()))
    b = sorted(
        map(tuple, spectral_embedding(e.repartition(7), dims=2, n_iter=5).collect())
    )
    assert a == b


def _ring_graph(spark, extra_edges=()):
    """12 nodes (ids 3, 13, …, 113), each linked to its +1/+2/+5
    neighbours on a ring, with seeded initial coordinates."""
    n = 12
    rows = [
        (10 * i + 3, 10 * ((i + j) % n) + 3, round(1.0 / (1.0 + 0.1 * j + 0.01 * i), 6))
        for i in range(n)
        for j in (1, 2, 5)
    ]
    xy = np.round(np.random.default_rng(5).normal(0.0, 0.5, (n, 2)), 6)
    edges = spark.createDataFrame(rows + list(extra_edges), "src long, dst long, weight double")
    init = spark.createDataFrame(
        [(10 * i + 3, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "cell_id long, ix double, iy double",
    )
    return edges, init


# umap_layout_driver(n_epochs=12, seed=7) on _ring_graph, as computed by
# the Row-collect implementation this layout must keep reproducing
_RING_LAYOUT = [
    (3, 1.275533, 0.921249), (13, 1.1229, -3.661756),
    (23, -0.150714, -3.890269), (33, 0.246159, -2.459418),
    (43, -0.659167, -2.88242), (53, 1.062562, -0.357984),
    (63, 2.725874, -1.321199), (73, 2.068108, -0.253709),
    (83, 1.464518, -1.820265), (93, -0.740125, -0.725068),
    (103, 1.122472, -0.771476), (113, -0.07606, 0.365639),
]


def _layout(edges, init):
    out = embed.umap_layout_driver(edges, init, n_epochs=12, seed=7).collect()
    return [(r["cell_id"], r["umap1"], r["umap2"]) for r in out]


def test_umap_layout_pinned_coordinates(spark):
    edges, init = _ring_graph(spark)
    assert _layout(edges, init) == _RING_LAYOUT


def test_umap_layout_drops_edges_outside_init(spark):
    # node 999 has no initial position: its edges cannot be laid out
    edges, init = _ring_graph(spark, extra_edges=[(13, 999, 0.9), (999, 3, 0.4)])
    assert _layout(edges, init) == _RING_LAYOUT


def test_umap_layout_empty_edges_returns_init(spark):
    _edges, init = _ring_graph(spark)
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    got = _layout(empty, init)
    want = sorted((r["cell_id"], r["ix"], r["iy"]) for r in init.collect())
    assert got == want
