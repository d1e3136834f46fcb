"""2-D embedding of the cell graph (``scarf/umap.py``,
``scarf/datastore/graph_datastore.py:1218-1377``).

Split exactly along the reference's own boundary (SURVEY.md §7 "hard
parts"): the *graph-sized* math (fuzzy-simplicial-set symmetrization,
kmeans-PCA initial coordinates) is distributed DataFrame work; the
sequential SGD layout runs driver-side over the collected (n·k)-row
edge list — the same envelope the reference accepts for umap-learn —
with a deterministic seeded numpy loop standing in for
``optimize_layout_euclidean`` (``scarf/umap.py:93-115``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize_edges(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Fuzzy simplicial set symmetrization ``g + gᵀ − g ∘ gᵀ``
    (``scarf/umap.py:118-123``): a full outer self-join of the edge
    list against its transpose; probabilities combine as
    w = a + b − a·b. One shuffle on (src, dst)."""
    a = edges.select("src", "dst", F.col(weight_col).alias("wa"))
    b = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col(weight_col).alias("wb")
    )
    return (
        a.join(b, ["src", "dst"], "full_outer")
        .select(
            "src",
            "dst",
            F.round(
                F.coalesce("wa", F.lit(0.0))
                + F.coalesce("wb", F.lit(0.0))
                - F.coalesce("wa", F.lit(0.0)) * F.coalesce("wb", F.lit(0.0)),
                6,
            ).alias("weight"),
        )
    )


def ini_embed_kmeans_pca(
    cells_vec: DataFrame, n_centroids: int = 100, seed: int = 4466
) -> DataFrame:
    """Initial 2-D coordinates (``graph_datastore.py:427-457``
    _get_ini_embed): KMeans centroids (distributed, seeded), PCA(2) of
    the tiny k×d centroid matrix on the driver, coordinates broadcast
    back to cells by their cluster label."""
    import numpy as np

    from scarf_spark.ml.cluster import kmeans_mllib

    km = kmeans_mllib(cells_vec, k=n_centroids, seed=seed)
    joined = cells_vec.join(km, "cell_id")
    d = cells_vec.select(F.size("v").alias("d")).limit(1).collect()[0]["d"]
    cent = (
        joined.groupBy("cluster")
        .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(d)])
        .collect()
    )
    labels = [r["cluster"] for r in cent]
    M = np.array([[r[f"m{i}"] for i in range(d)] for r in cent])
    Mc = M - M.mean(axis=0)
    cov = Mc.T @ Mc / max(len(labels) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    L = evecs[:, order]
    for c in range(2):  # deterministic sign
        m = int(np.argmax(np.abs(L[:, c])))
        if L[m, c] < 0:
            L[:, c] = -L[:, c]
    xy = Mc @ L
    # rescale to [-1, 1] like the reference's rescaled centroid init
    xy = xy / max(np.abs(xy).max(), 1e-12)
    spark = cells_vec.sparkSession
    coords = spark.createDataFrame(
        [(int(l), float(x), float(y)) for l, (x, y) in zip(labels, xy)],
        ["cluster", "ix", "iy"],
    )
    return joined.select("cell_id", "cluster").join(
        F.broadcast(coords), "cluster"
    ).select("cell_id", "ix", "iy")


def sgtsne_rescale(
    edges: DataFrame,
    lam: float = 1.0,
    max_iter: int = 64,
    weight_col: str = "weight",
) -> DataFrame:
    """SG-tSNE-Π λ-rescaling (Pitsianis/Iakovidou/Floros/Sun, IEEE HPEC
    2019 — the algorithm behind the ``sgtsne`` binary the reference
    shells out to, ``scarf/datastore/graph_datastore.py:1088-1216``):
    per source node solve ``Σ_j w_ij^γ_i = λ`` for ``γ_i > 0`` and emit
    the rescaled affinities ``p_ij = w_ij^γ_i`` — the step that turns
    an arbitrary sparse affinity graph into the stochastic matrix
    t-SNE expects.

    Distributed: per-src edge lists are grouped JVM-side
    (sort_array(collect_list) — deterministic dst order), each Arrow
    batch solves its γ's with 64 fixed bisection steps (every step is
    smooth: pow + left-fold sum + one monotone compare, so the loop
    replays exactly in a DuckDB recursive CTE — same boundary as the
    UMAP-kernel bisection in :func:`~scarf_spark.operators.knn.smoothen_dists`).
    Rounding happens JVM-side (half-away-from-zero, matching the
    oracle's ROUND; python's round() is banker's)."""
    import pandas as pd

    wl = edges.groupBy("src").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("dst"), F.col(weight_col).alias("w")))
        ).alias("es")
    )

    def solve(batches):
        inf = float("inf")
        for pdf in batches:
            srcs, dsts, ps = [], [], []
            for src, es in zip(pdf["src"], pdf["es"]):
                ws = [float(e["w"]) for e in es]
                lo, hi, mid = 0.0, inf, 1.0
                for _ in range(max_iter):
                    s = 0.0
                    for x in ws:  # left-fold, matching SQL SUM order
                        s += x**mid
                    if s > lam:
                        lo, mid = mid, (mid * 2.0 if hi == inf else (mid + hi) / 2.0)
                    else:
                        hi, mid = mid, (lo + mid) / 2.0
                for e in es:
                    srcs.append(src)
                    dsts.append(int(e["dst"]))
                    ps.append(float(e["w"]) ** mid)
            yield pd.DataFrame({"src": srcs, "dst": dsts, "p": ps})

    out = wl.mapInPandas(solve, "src long, dst long, p double")
    return out.select("src", "dst", F.round("p", 6).alias("p"))


def sgtsne_layout_driver(
    p_edges: DataFrame,
    init: DataFrame,
    n_iter: int = 100,
    learning_rate: float = 50.0,
    momentum: float = 0.6,
    weight_col: str = "p",
) -> DataFrame:
    """driver_compute: exact t-SNE gradient descent over the collected
    rescaled graph — the layout stage of SG-tSNE, which the reference
    runs as an external compiled binary (``graph_datastore.py:1088-1216``
    ``bin/sgtsne``; documented determinism boundary, like the UMAP SGD
    twin above). Deterministic: symmetrize P = (P+Pᵀ)/2·ΣP, init from
    the provided coordinates, plain momentum gradient descent with the
    dense (n²) Cauchy-kernel repulsion — the driver-side twin envelope
    is the n·k edge list plus an n² numpy temp, so callers cap n.

    p_edges: (src, dst, p); init: (cell_id, ix, iy).
    Returns (cell_id, tsne1, tsne2)."""
    import numpy as np

    e_rows = p_edges.select("src", "dst", weight_col).collect()
    i_rows = init.select("cell_id", "ix", "iy").collect()
    ids = sorted({r["cell_id"] for r in i_rows})
    idx = {n: i for i, n in enumerate(ids)}
    n = len(ids)
    P = np.zeros((n, n))
    for r in e_rows:
        if r["src"] in idx and r["dst"] in idx:
            P[idx[r["src"]], idx[r["dst"]]] = r[weight_col]
    P = P + P.T
    P /= max(P.sum(), 1e-12)
    Y = np.zeros((n, 2))
    for r in i_rows:
        Y[idx[r["cell_id"]]] = (r["ix"], r["iy"])
    Y = Y * 1e-2  # t-SNE convention: small init
    V = np.zeros_like(Y)
    for _ in range(n_iter):
        d = Y[:, None, :] - Y[None, :, :]
        num = 1.0 / (1.0 + (d * d).sum(axis=2))
        np.fill_diagonal(num, 0.0)
        Q = num / max(num.sum(), 1e-12)
        G = 4.0 * (((P - Q) * num)[:, :, None] * d).sum(axis=1)
        V = momentum * V - learning_rate * G
        Y = Y + V
        Y = Y - Y.mean(axis=0)
    spark = p_edges.sparkSession
    return spark.createDataFrame(
        [(int(nid), round(float(Y[i, 0]), 6), round(float(Y[i, 1]), 6))
         for nid, i in idx.items()],
        ["cell_id", "tsne1", "tsne2"],
    )


def umap_layout_driver(
    edges: DataFrame,
    init: DataFrame,
    n_epochs: int = 50,
    learning_rate: float = 1.0,
    neg_samples: int = 3,
    seed: int = 4466,
    dens_lambda: float = 0.0,
    input_dist: str | None = None,
) -> DataFrame:
    """driver_compute: seeded SGD layout over the collected graph —
    attraction along weighted edges, repulsion against sampled
    non-neighbors (the ``optimize_layout_euclidean`` contract,
    ``scarf/umap.py:15-164``, reimplemented as a compact deterministic
    numpy loop; the reference itself collects the graph and warns that
    parallel SGD is non-reproducible — this version is single-threaded
    and exactly reproducible).

    edges: (src, dst, weight); init: (cell_id, ix, iy).
    Returns (cell_id, umap1, umap2).

    ``dens_lambda > 0`` enables the densMAP variant (Narayan/Berger/Cho
    2020, the reference's ``dens_map`` branch, ``scarf/umap.py:15-164``
    — there a flag passed through to umap-learn): each node's local
    embedding radius ``r_i = Σ_j w_ij·d²_ij / Σ_j w_ij`` is pulled
    toward the standardized input-space local radius, adding a
    per-edge density force ``−λ·(log r_i − t_i)·∂r_i/∂y`` on top of
    the UMAP attraction/repulsion — density preservation in the same
    deterministic-twin envelope as the base layout."""
    import numpy as np

    from scarf_spark.sources.sinks import lookup_sorted

    # the layout depends on edge order: toPandas keeps collect
    # (partition) order, so the SGD loop is reproducible
    cols = ["src", "dst", "weight"] + ([input_dist] if input_dist else [])
    e = edges.select(*cols).toPandas()
    ini = init.select("cell_id", "ix", "iy").toPandas()
    ids = np.unique(ini["cell_id"].to_numpy())
    pos = np.zeros((len(ids), 2))
    pos[np.searchsorted(ids, ini["cell_id"].to_numpy())] = ini[["ix", "iy"]].to_numpy(
        dtype=float
    )
    # edges with an endpoint outside init are dropped
    src, s_ok = lookup_sorted(ids, e["src"].to_numpy())
    dst, d_ok = lookup_sorted(ids, e["dst"].to_numpy())
    keep = s_ok & d_ok
    src, dst = src[keep], dst[keep]
    w = e["weight"].to_numpy(dtype=float)[keep]
    rng = np.random.default_rng(seed)
    n = len(ids)
    t_in = None
    if dens_lambda > 0 and input_dist is not None:
        # standardized log input-space local radius — the densMAP target
        din2 = e[input_dist].to_numpy(dtype=float)[keep] ** 2
        W = np.zeros(n)
        np.add.at(W, src, w)
        W = np.maximum(W, 1e-12)
        r_in = np.zeros(n)
        np.add.at(r_in, src, w * din2)
        log_rin = np.log(r_in / W + 1e-12)
        t_in = (log_rin - log_rin.mean()) / (log_rin.std() + 1e-12)
    for epoch in range(n_epochs):
        alpha = learning_rate * (1.0 - epoch / n_epochs)
        d = pos[src] - pos[dst]
        dist2 = (d * d).sum(axis=1) + 1e-3
        attr = (-2.0 * w / (1.0 + dist2))[:, None] * d
        np.add.at(pos, src, alpha * attr)
        np.add.at(pos, dst, -alpha * attr)
        if t_in is not None and epoch >= 0.3 * n_epochs:
            # density force (active after 30% of epochs, the densMAP
            # schedule: let the shape form first): pull each node's
            # standardized log embedding radius toward its input-space
            # target (gradient through r_i = Σ w·d² / Σ w; per-epoch
            # mean/std treated constant, residual clipped to ±3σ)
            r_num = np.zeros(n)
            np.add.at(r_num, src, w * dist2)
            r_emb = np.maximum(r_num / W, 1e-12)
            log_re = np.log(r_emb)
            z = (log_re - log_re.mean()) / (log_re.std() + 1e-12)
            resid = np.clip(z - t_in, -3.0, 3.0)
            coef = resid[src] / r_emb[src]
            dens = (-dens_lambda * coef * 2.0 * w / W[src])[:, None] * d
            np.add.at(pos, src, alpha * np.clip(dens, -1, 1))
        neg = rng.integers(0, n, size=(len(src), neg_samples))
        for j in range(neg_samples):
            dn = pos[src] - pos[neg[:, j]]
            dist2n = (dn * dn).sum(axis=1) + 1e-3
            rep = (2.0 / ((1.0 + dist2n) * dist2n))[:, None] * dn
            np.add.at(pos, src, alpha * np.clip(rep, -4, 4))
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(nid), round(float(pos[i, 0]), 6), round(float(pos[i, 1]), 6))
         for i, nid in enumerate(ids)],
        ["cell_id", "umap1", "umap2"],
    )


def spectral_embedding(
    edges: DataFrame,
    dims: int = 2,
    n_iter: int = 8,
    weight_col: str = "weight",
) -> DataFrame:
    """Fully DISTRIBUTED spectral layout — the oracle-able twin of the
    driver-side SGD layouts (umap-learn seeds its layout from exactly
    this: the leading non-trivial eigenvectors of the normalized graph
    adjacency, ``umap/spectral.py`` in the public package; the
    reference collects the graph instead, ``graph_datastore.py
    :1218-1377``).

    Deterministic BLOCK (subspace) power iteration on the LAZY walk
    operator (M + I)/2 with M = D^(-1/2)·A·D^(-1/2): the shift maps
    M's spectrum [−1, 1] to [0, 1] so the algebraically-largest
    eigenvectors dominate (plain power iteration on a near-bipartite
    graph locks onto the λ ≈ −1 alternating mode instead). The top
    eigenpair is known in closed form (u0 ∝ √d, eigenvalue 1); each of
    the FIXED ``n_iter`` rounds applies the walk to ALL ``dims``
    columns in ONE edge⋈vector join + hash agg, then re-orthonormalizes
    against u0 and each other via classical Gram-Schmidt whose
    coefficients come in closed form from a single Gram aggregate
    (Cholesky recursion: coef_cp = (g_pc − t0p·t0c − Σ_q coef_pq·
    coef_cq)/n_p and n_c² = g_cc − t0c² − Σ coef_cq²) — two jobs per
    round TOTAL regardless of dims, vs two per round per dim for
    sequential deflation. Every step is smooth, the start vectors are
    seedless md5 hashes of the node id, and the iteration count is
    fixed — so a recursive list-state SQL CTE replays it exactly (the
    ml_pseudotime_power / Jacobi doctrine). State is the node-sized
    coordinate table — no graph collect at any n.

    Sign convention: the component with the largest |value| (node-id
    tie-break) is made positive, the pca_fit convention. Returns
    (node, e1..e<dims>) ROUND(6)."""
    und = (
        edges.select(
            F.col("src").alias("i"), F.col("dst").alias("j"), F.col(weight_col).alias("w")
        )
        .unionAll(
            edges.select(
                F.col("dst").alias("i"), F.col("src").alias("j"), F.col(weight_col).alias("w")
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w").alias("w"))
    )
    deg = und.groupBy("i").agg(F.sum("w").alias("d"))
    # the lazy-walk shift (M + I)/2 is folded into the edge table as
    # halved weights plus 0.5 self-loops — the per-round matvec is then
    # ONE join + hash agg with no separate shift pass
    ew = (
        und.join(deg, "i")
        .join(deg.select(F.col("i").alias("j"), F.col("d").alias("dj")), "j")
        .select(
            "i", "j", (F.col("w") / F.sqrt(F.col("d") * F.col("dj")) / F.lit(2.0)).alias("wn")
        )
        .unionAll(
            deg.select(F.col("i"), F.col("i").alias("j"), F.lit(0.5).alias("wn"))
        )
        .localCheckpoint(eager=True)
    )
    import math

    n_nodes = deg.count()
    if n_nodes <= dims:
        raise ValueError(
            f"spectral_embedding: need more nodes ({n_nodes}) than "
            f"dimensions ({dims}) — the lazy walk has only "
            f"{max(n_nodes - 1, 0)} non-trivial eigenvectors"
        )
    sumd = float(deg.agg(F.sum("d")).collect()[0][0])
    # u0 = sqrt(d)/sqrt(sum d): the known unit top eigenvector of M
    base = deg.select(
        F.col("i").alias("node"),
        (F.sqrt(F.col("d")) / F.lit(math.sqrt(sumd))).alias("u0"),
    ).localCheckpoint(eager=True)
    k = dims
    # seedless portable starts: md5(node || '_ec') top-60-bit / 2^60 - 0.5
    v = base.select(
        "node",
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("node").cast("string"), F.lit(f"_e{c + 1}")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .cast("double")
                / F.lit(1152921504606846976.0)
                - F.lit(0.5)
            ).alias(f"v{c + 1}")
            for c in range(k)
        ],
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        # NO broadcast hints in the round loop: an explicit broadcast
        # of an unmaterialized node-sized plan costs a separate
        # build-job + driver collect + torrent push EVERY round (~1.5s
        # of fixed latency at local[32]); the plain shuffle join is 4x
        # faster here and AQE still picks a broadcast when stats say so
        mv = (
            ew.join(v.withColumnRenamed("node", "j"), "j")
            .groupBy("i")
            .agg(
                *[
                    F.sum(F.col("wn") * F.col(f"v{c + 1}")).alias(f"mv{c + 1}")
                    for c in range(k)
                ]
            )
            .withColumnRenamed("i", "node")
        )
        # cache u BEFORE the scalar collect: the collect and the next
        # round's checkpoint otherwise each recompute the matvec
        # join + agg (the harmonic_potential lesson)
        u = base.join(mv, "node").localCheckpoint(eager=False)
        # ONE aggregate collects every scalar of the round: the u0
        # deflation dots and the k×k Gram of the walked columns
        row = u.agg(
            *[
                F.sum(F.col("u0") * F.col(f"mv{c + 1}")).alias(f"_t{c}")
                for c in range(k)
            ],
            *[
                F.sum(F.col(f"mv{c + 1}") * F.col(f"mv{d + 1}")).alias(f"_g{c}_{d}")
                for c in range(k)
                for d in range(c, k)
            ],
        ).collect()[0]
        t0s = [float(row[f"_t{c}"]) for c in range(k)]

        def g(c: int, d: int):
            return float(row[f"_g{min(c, d)}_{max(c, d)}"])

        # classical Gram-Schmidt via the Cholesky recursion — for k=2
        # these are exactly n1 = sqrt(g11 − t01²),
        # c21 = (g12 − t01·t02)/n1, n2 = sqrt(g22 − t02² − c21²),
        # which the SQL oracle replays shape-for-shape
        coef: list[list[float]] = []
        norms: list[float] = []
        for c in range(k):
            cc = []
            for p in range(c):
                if norms[p] > 0:
                    num = g(p, c) - t0s[p] * t0s[c]
                    for q in range(p):
                        num = num - coef[p][q] * cc[q]
                    cc.append(num / norms[p])
                else:
                    cc.append(0.0)
            w2 = g(c, c) - t0s[c] * t0s[c]
            for val in cc:
                w2 = w2 - val * val
            coef.append(cc)
            norms.append(math.sqrt(max(w2, 0.0)))
        exprs = []
        for c in range(k):
            e = F.col(f"mv{c + 1}") - F.lit(t0s[c]) * F.col("u0")
            for p, val in enumerate(coef[c]):
                e = e - F.lit(val) * exprs[p]
            exprs.append(
                (e / F.lit(norms[c])) if norms[c] > 0 else F.lit(0.0)
            )
        # plain projection over the cached u — the next round's scalar
        # collect (or the sign aggregate below) materializes it
        v = u.select(
            "node", *[exprs[c].alias(f"v{c + 1}") for c in range(k)]
        )
    # sign convention per dim: component with max (|v|, -node) positive
    srow = v.agg(
        *[
            F.max(
                F.struct(
                    F.abs(F.col(f"v{c + 1}")).alias("_a"),
                    (-F.col("node")).alias("_n"),
                    F.col(f"v{c + 1}").alias("_v"),
                )
            ).alias(f"_b{c}")
            for c in range(k)
        ]
    ).collect()[0]
    sgns = [(-1.0 if srow[f"_b{c}"]["_v"] < 0 else 1.0) for c in range(k)]
    return v.select(
        "node",
        *[
            F.round(F.col(f"v{c + 1}") * F.lit(sgns[c]), 6).alias(f"e{c + 1}")
            for c in range(k)
        ],
    )
