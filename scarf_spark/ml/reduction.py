"""Dimensionality reduction (``scarf/ann.py:55-346`` AnnStream).

Reference: streaming IncrementalPCA / gensim LSI over chunks with
z-scaling, then a reducer applied chunkwise
(``ann.py:129-162``). Spark-first shape: the moments (n, Σv, VᵀV) of
the assembled vectors come from one Arrow-batched BLAS pass, the
z-scaling and the Gram eigendecomposition run on the driver, and the
loadings are broadcast back for the projection step — the projection
is embarrassingly parallel exactly like the reference's per-chunk
matmul.

The reference discards one extra fitted component (``ann.py:212-214``)
and optionally drops the first LSI component (depth, ``ann.py:286``);
both are slicing options here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dlit(x: float) -> str:
    """SQL double literal for ``x``, bit-exact round trip: Python repr
    is the shortest string that parses back to the same double, and
    Spark's parser (Double.parseDouble) is correctly rounded, so the
    engine sees the identical IEEE value the Column API would have
    embedded via ``F.lit``. The ``D`` suffix matters — an unsuffixed
    decimal literal parses as DECIMAL.

    Why strings at all: building the reduction family's wide
    expressions (d-term z-scores and projections) as Column objects
    costs one py4j round trip per operator node — measured 2.8s of
    driver time for a d=20 wide expression list against 0.1s for one
    parsed SQL string (guide §7.3: plan construction as the
    bottleneck). The parsed plan is expression-identical, verified
    bit-equal."""
    import math

    v = float(x)
    # repr of nan/inf ('nan', 'inf') is not parseable SQL — F.lit would
    # have propagated a NaN column silently, but a cryptic
    # ParseException from deep inside selectExpr is worse than failing
    # loud here with an attributable message (r15 ADVICE)
    if not math.isfinite(v):
        raise ValueError(
            f"_dlit: non-finite value {v!r} reached a SQL-string "
            "expression builder (NaN/Inf in collected moments — check "
            "the input counts for NaN values)"
        )
    return repr(v) + "D"


def assemble_vectors(
    counts: DataFrame, feat_ids: list[int], value_col: str = "value"
) -> DataFrame:
    """Dense per-cell vectors over an ordered feature subset (the HVG
    set): COO → (cell_id, array<double>), absent features zero-filled.
    One groupBy with map_from_entries + per-slot lookup — no pivot, no
    Python."""
    sel = counts.where(F.col("feat_id").isin([int(f) for f in feat_ids]))
    m = sel.groupBy("cell_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("feat_id"), F.col(value_col).cast("double")))
        ).alias("_m")
    )
    vec = ", ".join(f"coalesce(_m[{int(f)}], 0.0D)" for f in feat_ids)
    # lazy checkpoint: every consumer (dim probe, z-score stats, Gram
    # aggregate, projection) re-executes the COO scan + groupBy
    # otherwise — the assembled table is cell-count-sized, far smaller
    # than its lineage
    return m.selectExpr("cell_id", f"array({vec}) AS v").localCheckpoint(
        eager=False
    )


def _gram_moments(cells_vec: DataFrame, d: int):
    """One Arrow-batched pass over ``v``: each partition folds its row
    count, column sums Σv and second moments VᵀV with numpy BLAS, and
    the driver adds the per-partition partials in collect (partition)
    order — a fixed summation order, so repeated calls are bit-equal.
    p × (d² + d + 1) doubles cross to the driver, independent of n.

    Replaces the d(d+1)/2-column ``sum(v[i] * v[j])`` SQL aggregate:
    one BLAS call per Arrow batch against a wide codegen'd aggregate
    (measured 1.0–1.4 s per call at 600 × 30 on 4 vCPUs, where the
    Arrow round trip alone is ~0.03 s). Returns (n, sums, gram) with
    ``gram`` exactly symmetric (upper triangle mirrored)."""
    import numpy as np
    import pandas as pd

    def fold(batches):
        n = 0
        s = np.zeros(d)
        g = np.zeros((d, d))
        for pdf in batches:
            if len(pdf):
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
                n += len(x)
                s += x.sum(axis=0)
                g += x.T @ x
        yield pd.DataFrame({"n": [n], "s": [s], "g": [g.ravel()]})

    parts = (
        cells_vec.select("v")
        .mapInPandas(fold, "n long, s array<double>, g array<double>")
        .collect()
    )
    n = 0
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in parts:
        n += r["n"]
        s += np.asarray(r["s"], dtype=np.float64)
        g += np.asarray(r["g"], dtype=np.float64).reshape(d, d)
    g = np.triu(g) + np.triu(g, 1).T
    return n, s, g


def _zscore_params(n: int, s, g, d: int):
    """(mu, sd) lists from the collected moments. math.sqrt (not
    **0.5) so the SQL oracle's SQRT replays the same correctly-rounded
    operation; mu*mu (not mu**2) for the same reason. Shared by
    :func:`zscore_vectors` and :func:`zscore_gram`, so both emit the
    identical z expressions."""
    import math

    nf = float(n)
    mu = [float(s[i]) / nf for i in range(d)]
    sd = [
        math.sqrt(max(float(g[i, i]) / nf - mu[i] * mu[i], 1e-12))
        for i in range(d)
    ]
    return mu, sd


def _zscored(cells_vec: DataFrame, mu, sd) -> DataFrame:
    z = ", ".join(
        f"(v[{i}] - {_dlit(m)}) / {_dlit(s)}" for i, (m, s) in enumerate(zip(mu, sd))
    )
    # lazy checkpoint for the same reason as assemble_vectors: callers
    # consume z once per Gram/probe/projection pass
    return cells_vec.selectExpr("cell_id", f"array({z}) AS v").localCheckpoint(
        eager=False
    )


def _vec_dim(cells_vec: DataFrame) -> int:
    return cells_vec.select(F.size("v").alias("d")).limit(1).collect()[0]["d"]


def zscore_vectors(cells_vec: DataFrame, d: int | None = None) -> DataFrame:
    """Column-wise z-scaling of assembled vectors (``ann.py:191-192``):
    mean and standard deviation from one Arrow-batched moment pass
    (:func:`_gram_moments`), applied as a broadcast-literal expression
    — no per-column shuffle.

    ``d`` skips the one-row dimension-probe action when the caller
    already knows the vector width (it always does when the vectors
    came from :func:`assemble_vectors` over an explicit feature
    list)."""
    if d is None:
        d = _vec_dim(cells_vec)
    n, s, g = _gram_moments(cells_vec, d)
    return _zscored(cells_vec, *_zscore_params(n, s, g, d))


def zscore_gram(cells_vec: DataFrame, d: int):
    """Fused z-score + z-Gram: ONE Arrow-batched moment pass
    (:func:`_gram_moments`) over the assembled vectors yields n, the
    per-dim sums and the raw second moments VᵀV; the z-score
    parameters (the same expressions as :func:`zscore_vectors`, so z
    itself is bit-equal) and the Gram of the z-scored matrix (expanded
    analytically from the raw moments — the ~1e-14 divergence from a
    summed z-Gram shifts the Jacobi loadings below the ROUND(6) pivot
    every consumer applies) both derive on the driver. One data pass
    where the zscore_vectors → pca_fit chain takes two. Returns
    (z DataFrame, gram list-of-rows, n)."""
    n, s, g = _gram_moments(cells_vec, d)
    mu, sd = _zscore_params(n, s, g, d)
    nf = float(n)
    gram = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            # four-term expansion of Σ (v_i − μ_i)(v_j − μ_j) using the
            # actual collected sums (not n·μ identities) to keep the
            # cancellation error at its floor
            cent = (
                float(g[i, j])
                - mu[j] * float(s[i])
                - mu[i] * float(s[j])
                + nf * mu[i] * mu[j]
            )
            gram[i][j] = gram[j][i] = cent / (sd[i] * sd[j])
    zdf = _zscored(cells_vec, mu, sd)
    # Cancellation-regime guard (r15 ADVICE): the four-term expansion
    # subtracts terms of size ~n·μ², so the centered moment loses about
    # (μ/sd)² ULPs — at μ/sd = O(1) (any counts-derived matrix; all
    # fixture consumers) that is the documented ~1e-14 drift, but an
    # extreme-offset input could push it past the ROUND(6) pivot. In
    # that regime recompute the Gram with an explicit second moment
    # pass over the z-scored values (the two-pass shape, immune by
    # construction), paid only when the analytic path is unsafe.
    if any(abs(mu[i]) / sd[i] > 1e4 for i in range(d)):
        gram = _gram_moments(zdf, d)[2].tolist()
    return zdf, gram, n


JACOBI_SWEEPS = 8


def jacobi_eigh(mat: list[list[float]], sweeps: int = JACOBI_SWEEPS):
    """Cyclic-Jacobi eigendecomposition of a small symmetric matrix,
    written with a FIXED operation sequence (upper-triangle sweep
    order, exact-zero rotation skip, s = t·c) so any engine — here the
    DuckDB oracle's recursive CTE — replays it bit-for-bit. Fixed
    sweep count instead of a residual threshold: 8 sweeps is machine
    precision for the d ≤ 64 matrices this engine builds (Jacobi
    converges quadratically), and a threshold would make the replay
    diverge at eps while a fixed count cannot.

    Returns (evals list, evecs row-major list-of-rows: column c of the
    returned matrix is the eigenvector of evals[c])."""
    import math

    d = len(mat)
    a = [row[:] for row in mat]
    v = [[1.0 if i == j else 0.0 for j in range(d)] for i in range(d)]
    for _ in range(sweeps):
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq = a[p][q]
                if apq == 0.0:
                    continue
                app, aqq = a[p][p], a[q][q]
                tau = (aqq - app) / (2.0 * apq)
                t = (1.0 if tau >= 0.0 else -1.0) / (
                    abs(tau) + math.sqrt(1.0 + tau * tau)
                )
                c = 1.0 / math.sqrt(1.0 + t * t)
                s = t * c
                for r in range(d):
                    if r != p and r != q:
                        arp, arq = a[r][p], a[r][q]
                        a[r][p] = c * arp - s * arq
                        a[p][r] = a[r][p]
                        a[r][q] = s * arp + c * arq
                        a[q][r] = a[r][q]
                a[p][p] = app - t * apq
                a[q][q] = aqq + t * apq
                a[p][q] = 0.0
                a[q][p] = 0.0
                for r in range(d):
                    vrp, vrq = v[r][p], v[r][q]
                    v[r][p] = c * vrp - s * vrq
                    v[r][q] = s * vrp + c * vrq
    return [a[i][i] for i in range(d)], v


def pca_fit(
    cells_vec: DataFrame,
    k: int = 5,
    drop_first: bool = False,
    d: int | None = None,
):
    """Distributed PCA via the Gram matrix: X'X is a d×d sum of
    per-partition BLAS products (:func:`_gram_moments`, one
    Arrow-batched pass; d = |HVG| is small by construction),
    eigendecomposed on the driver with the deterministic
    :func:`jacobi_eigh` — no MLlib RNG, and the whole fit is
    replayable in SQL (see the ``ml_pca_project`` oracle). Returns
    (loadings ndarray d×k, explained_variance list).

    drop_first mirrors the reference's LSI skip-first
    (``ann.py:286``)."""
    if d is None:
        d = _vec_dim(cells_vec)
    n, _s, g = _gram_moments(cells_vec, d)
    return pca_fit_gram(g.tolist(), n, k=k, drop_first=drop_first)


def pca_fit_gram(gram, n: int, k: int = 5, drop_first: bool = False):
    """Driver-side tail of :func:`pca_fit`: eigendecompose an already
    collected d×d Gram (X'X) with sample count ``n`` — lets callers
    that obtained the Gram from a fused aggregate (see
    :func:`zscore_gram`) skip the second data pass."""
    import numpy as np

    d = len(gram)
    denom = float(max(n - 1, 1))
    cov = [[gram[i][j] / denom for j in range(d)] for i in range(d)]
    evals, evecs = jacobi_eigh(cov)
    # deterministic ordering: (eigenvalue desc, original index asc) —
    # np.argsort is unstable on ties, this never is
    order = sorted(range(d), key=lambda i: (-evals[i], i))
    lo = 1 if drop_first else 0
    idx = order[lo : lo + k]
    loadings = np.array([[evecs[r][c] for c in idx] for r in range(d)])
    # deterministic sign convention: largest-|component| entry positive
    for c in range(loadings.shape[1]):
        m = np.argmax(np.abs(loadings[:, c]))
        if loadings[m, c] < 0:
            loadings[:, c] = -loadings[:, c]
    return loadings, [float(evals[i]) for i in idx]


def lsi_fit(
    cells_vec: DataFrame,
    k: int = 5,
    skip_first: bool = True,
    d: int | None = None,
):
    """LSI (``ann.py:258-288``): truncated SVD of the (TF-IDF
    normalized, un-centered) matrix. The right singular vectors of X
    are the eigenvectors of the Gram matrix X'X, so this is the same
    one-pass Gram aggregate as :func:`pca_fit` on un-scaled vectors;
    ``skip_first`` drops the depth component exactly like the
    reference's ``lsi_skip_first``."""
    return pca_fit(cells_vec, k=k, drop_first=skip_first, d=d)


def pca_transform(cells_vec: DataFrame, loadings) -> DataFrame:
    """Apply broadcast loadings: reduced = v · L, one arithmetic
    expression per output dim — the embarrassingly-parallel projection
    of ``ann.py:129-162``."""
    d, k = loadings.shape
    # "0D + ..." mirrors Python sum()'s integer start value so the fold
    # is term-for-term the expression the Column API built
    cols = [
        "0D + "
        + " + ".join(f"v[{i}] * {_dlit(loadings[i, c])}" for i in range(d))
        + f" AS pc{c + 1}"
        for c in range(k)
    ]
    return cells_vec.selectExpr("cell_id", *cols)


def mahalanobis_scores(
    cells_vec: DataFrame,
    eps: float = 1e-9,
    d: int | None = None,
    fit=None,
) -> DataFrame:
    """Squared Mahalanobis distance of every vector from the (already
    centered) sample distribution — the classic multivariate outlier
    score: m² = Σ_k (x·v_k)² / λ_k over the covariance eigenpairs,
    which is xᵀC⁻¹x without ever materializing or inverting C beyond
    the d×d Gram aggregate that :func:`pca_fit` already computes
    driver-side with the deterministic Jacobi sweep.

    Eigenvector sign flips cancel in the square, so the score is even
    replayable where signed projections need a sign convention. Small
    eigenvalues are floored at ``eps`` on both engines (a rank-
    deficient direction otherwise explodes the score). One Gram pass +
    one projection expression per vector — the same scale envelope as
    PCA itself. Returns (cell_id, m2)."""
    if d is None:
        d = _vec_dim(cells_vec)
    # ``fit``: optional precomputed (loadings, evs) — callers holding a
    # fused-aggregate Gram (zscore_gram → pca_fit_gram) skip the
    # second data pass the internal fit would run
    loadings, evs = fit if fit is not None else pca_fit(cells_vec, k=d, d=d)
    proj = pca_transform(cells_vec, loadings)
    score = "0D + " + " + ".join(
        f"pc{c + 1} * pc{c + 1} / {_dlit(max(ev, eps))}"
        for c, ev in enumerate(evs)
    )
    return proj.selectExpr("cell_id", f"round({score}, 6) AS m2")


def zca_whiten(
    cells_vec: DataFrame,
    eps: float = 1e-9,
    d: int | None = None,
    fit=None,
) -> DataFrame:
    """ZCA whitening: x → V Λ^(-1/2) Vᵀ x over the covariance
    eigenpairs — decorrelates to unit covariance while staying as
    close to the original basis as any whitening can (the standard
    preprocessing before similarity search or coreset selection when
    feature scales correlate).

    The transform is expressed as Σ_c (x·v_c) · v_c/√λ_c — eigenvector
    sign flips cancel (v appears twice), so like
    :func:`mahalanobis_scores` it needs no sign convention and replays
    exactly. One Gram pass + one projection expression per output
    slot; eigenvalues floored at ``eps``. Returns
    (cell_id, slot, white) long-form, slot 1-based."""
    if d is None:
        d = _vec_dim(cells_vec)
    # ``fit`` as in mahalanobis_scores: precomputed (loadings, evs)
    loadings, evs = fit if fit is not None else pca_fit(cells_vec, k=d, d=d)
    proj = pca_transform(cells_vec, loadings)
    outs = []
    for i in range(d):
        body = "0D + " + " + ".join(
            f"pc{c + 1} * {_dlit(loadings[i, c] / max(ev, eps) ** 0.5)}"
            for c, ev in enumerate(evs)
        )
        outs.append(f"round({body}, 6) AS w{i + 1}")
    wide = proj.selectExpr("cell_id", *outs)
    pairs = ", ".join(
        f"named_struct('slot', {i + 1}, 'white', w{i + 1})" for i in range(d)
    )
    return wide.selectExpr(
        "cell_id", f"explode(array({pairs})) AS _e"
    ).selectExpr("cell_id", "_e.slot AS slot", "_e.white AS white")
