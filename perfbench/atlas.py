"""``atlas`` workload: a single-cell analysis of a seeded Zarr store, each
pass from a fresh read with nothing cached; traced runs continue with a
closed-loop analyst session on the warm store.

Pass: read_zarr_store → ScarfDataStore → auto_filter_cells → mark_hvgs →
make_graph → run_leiden_clustering → run_marker_search / get_markers →
run_umap → to_anndata. Session: one client, requests drawn from a
seeded deck of graph_hit / graph_miss / markers / sql_qc / refilter.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.harness import Check, Tracer, ari, dir_bytes, materialize

N_CELLS = 600
N_GENES = 1200
N_HVG = 30
DIMS = 10
K = 11
GROUP = "RNA_leiden_cluster"
# one deck of session requests; decks repeat, shuffled per seed
DECK = ["graph_hit"] * 3 + ["graph_miss"] + ["markers"] * 2 + ["sql_qc"] * 2 + ["refilter"] * 2


def _graph_params(dims: int, k: int) -> dict:
    # the facade's registry key for make_graph(feat_key="hvgs", ...)
    return {"feat_key": "hvgs", "dims": dims, "k": k, "sf": 1000.0, "log": True}


def _compose_graph(t: Tracer, ds, dims: int, k: int):
    """make_graph's steps called one layer at a time, each materialized at
    its boundary (traced runs only)."""
    from pyspark.sql import functions as F

    from scarf_spark.ml.reduction import (
        assemble_vectors,
        pca_fit,
        pca_transform,
        zscore_vectors,
    )
    from scarf_spark.operators import normalize
    from scarf_spark.operators.knn import cosine_knn_sharded, smoothen_dists

    hvg = ds.feats.where(F.col("hvgs"))
    feat_ids = [r["feat_id"] for r in hvg.orderBy("feat_id").collect()]
    with t.span("operators.normalize"):
        active = ds.counts.join(ds.cells.where("I").select("cell_id"), "cell_id", "left_semi")
        normed = normalize.renormalize_subset(
            active, hvg.select("feat_id"), sf=1000.0
        ).withColumn("norm_value", F.log1p(F.col("norm_value")))
        normed = materialize(normed)
    with t.span("ml.reduction"):
        vec = zscore_vectors(
            assemble_vectors(normed, feat_ids, "norm_value"), d=len(feat_ids)
        )
        loadings, _ev = pca_fit(vec, k=dims, d=len(feat_ids))
        red = pca_transform(vec, loadings).select(
            F.col("cell_id").alias("vec_id"),
            F.array(*[F.col(f"pc{c + 1}") for c in range(loadings.shape[1])]).alias(
                "embedding"
            ),
        )
        red = materialize(red)
    with t.span("operators.knn"):
        edges = materialize(smoothen_dists(cosine_knn_sharded(red, k=k, dim=dims), k=k))
    t.add("operators.knn.edges", edges.count())
    normed.unpersist()
    red.unpersist()
    return edges


def _registry_graph(t: Tracer, ds, registry, dims: int, k: int, stats: dict, edges=None):
    """A make_graph miss as its registry protocol: selection hash, log
    lookup, compute (composed layer by layer unless ``edges`` is given),
    publish. Leaves the published table on ``ds.edges``."""
    from pyspark.sql import functions as F

    from scarf_spark.plans.registry import params_hash, selection_hash

    with t.span("plans.registry"):
        t0 = time.perf_counter()
        ih = selection_hash(ds.cells.where("I").select("cell_id")) + selection_hash(
            ds.feats.where(F.col("hvgs")).select("feat_id")
        )
        t1 = time.perf_counter()
        hit = registry.lookup("knn_graph", params_hash(_graph_params(dims, k)), ih)
        t2 = time.perf_counter()
    t.add("plans.registry.hash_s", t1 - t0)
    t.add("plans.registry.lookup_s", t2 - t1)
    stats["lookups"] += 1
    stats["hits"] += hit is not None
    fresh = edges is None
    if fresh:
        edges = _compose_graph(t, ds, dims, k)
    with t.span("plans.registry"):
        t0 = time.perf_counter()
        ds.edges = registry.get_or_compute(
            "knn_graph", _graph_params(dims, k), ih, lambda: edges
        )
        t.add("plans.registry.publish_s", time.perf_counter() - t0)
    if fresh:
        edges.unpersist()
    return ds.edges


def _edges_frame(df):
    return df.select("src", "dst", "weight").toPandas().sort_values(
        ["src", "dst"], ignore_index=True
    )


def analysis_pass(spark, t: Tracer, store: str, h5ad: str | None, truth: dict):
    """One pass from a fresh read of the store; each facade call is one
    span. ``h5ad`` None skips the export. Returns the store and what the
    checks need."""
    from pyspark.sql import functions as F

    from scarf_spark.sources.zarr import read_zarr_store
    from scarf_spark.workflow import ScarfDataStore

    traced = t.enabled
    with t.span("sources.zarr"):
        st = read_zarr_store(spark, store)
        ds = ScarfDataStore(spark, counts=st["counts"])
        if traced:
            ds.counts.count()
    if traced:
        with t.span("operators.qc"):
            ds.cells = materialize(ds.cells)
    with t.span("operators.filters"):
        ds.auto_filter_cells(["n_counts", "n_features"])
        if traced:
            ds.cells.where("I").count()
    with t.span("ml.hvg"):
        ds.mark_hvgs(top_n=N_HVG)
        hvgs = sorted(r["feat_id"] for r in ds.feats.where(F.col("hvgs")).collect())
    if traced:
        ds.edges = _compose_graph(t, ds, DIMS, K)
    else:
        with t.span("workflow.make_graph"):
            ds.make_graph(dims=DIMS, k=K)
    with t.span("ml.cluster"):
        ds.run_leiden_clustering()
        labels = ds.cells.where("I").select("cell_id", GROUP).toPandas()
    with t.span("operators.markers"):
        ds.run_marker_search(GROUP)
        groups = _match_groups(labels, truth)
        found = {
            ty: [r["feat_id"] for r in ds.get_markers(GROUP, g).collect()]
            for ty, g in groups.items()
        }
    with t.span("ml.embed"):
        ds.run_umap()
        if traced:
            ds.cells.count()
    if h5ad is not None:
        with t.span("sources.sinks"):
            ds.to_anndata(h5ad)
    return ds, labels, hvgs, found


def _match_groups(labels, truth: dict) -> dict[int, int]:
    """For each planted type, the largest cluster whose majority is that
    type (the group an analyst would open for it)."""
    types = truth["types"][labels["cell_id"].to_numpy()]
    lab = labels[GROUP].to_numpy()
    best: dict[int, tuple[int, int]] = {}
    for g in np.unique(lab):
        members = types[lab == g]
        ty = int(np.bincount(members).argmax())
        if len(members) > best.get(ty, (0, -1))[0]:
            best[ty] = (len(members), int(g))
    return {ty: g for ty, (_n, g) in best.items()}


def check_pass(ds, truth: dict, labels, hvgs, found, h5ad: str, chk: Check) -> tuple[dict, int]:
    """Compare the pass's outputs with the generator's arrays; returns
    the quality metrics and the nonzeros the h5ad should hold."""
    from pyspark.sql import functions as F

    from scarf_spark.sources import minih5

    x = truth["x"]
    row = ds.counts.agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()[0]
    chk(row["n"] == truth["nnz"], f"zarr nnz {row['n']} != {truth['nnz']}")
    chk(float(row["s"]) == truth["sum"], f"zarr sum {row['s']} != {truth['sum']}")
    active = gen.expected_active(x)
    n_active = int(ds.cells.where("I").count())
    chk(n_active == int(active.sum()), f"active cells {n_active} != {int(active.sum())}")
    with_hvg = int((active & (x[:, hvgs].sum(axis=1) > 0)).sum())
    n_edges = ds.edges.count()
    chk(n_edges == with_hvg * K, f"edges {n_edges} != {with_hvg} x {K}")
    markers = truth["markers"]
    for ty in range(markers.shape[0]):
        chk(int(markers[ty, 0]) in found.get(ty, []), f"type {ty} top marker missing")
    with minih5.File(h5ad, "r") as f:
        shape = tuple(int(v) for v in f["X"]["shape"][:])
    n_expressed = int((x.sum(axis=0) > 0).sum())
    chk(shape == (int(active.sum()), n_expressed), f"h5ad shape {shape}")
    n_nnz = int(np.count_nonzero(x[active]))

    types = truth["types"][labels["cell_id"].to_numpy()]
    hits = sum(
        len(set(found.get(ty, [])) & set(markers[ty].tolist())) for ty in range(len(markers))
    )
    returned = sum(len(v) for v in found.values())
    return {
        "cluster_ari": ari(labels[GROUP].to_numpy(), types),
        "truth_recall": hits / markers.size,
        "truth_precision": hits / returned if returned else 0.0,
    }, n_nnz


def _export_catalog(spark, ds, cat_dir: str) -> None:
    """Publish the warm store in the catalog's single-cell layout
    (lineitem = counts COO, orders = cell table) for SQL requests."""
    from pyspark.sql import functions as F

    ds.counts.select(
        F.col("cell_id").alias("l_orderkey"),
        F.col("feat_id").alias("l_partkey"),
        F.col("value").alias("l_quantity"),
    ).write.mode("overwrite").parquet(os.path.join(cat_dir, "lineitem.parquet"))
    ds.cells.select(
        F.col("cell_id").alias("o_orderkey"),
        F.col("n_counts").alias("o_n_counts"),
        F.col(GROUP).alias("o_cluster"),
        F.col("I").alias("o_active"),
    ).write.mode("overwrite").parquet(os.path.join(cat_dir, "orders.parquet"))


SQL_QC = """
SELECT o.o_cluster AS cluster, COUNT(DISTINCT o.o_orderkey) AS cells,
       SUM(l.l_quantity) AS umis, COUNT(*) AS nnz
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_active
GROUP BY o.o_cluster
"""


class Session:
    """The closed-loop analyst (one client thread) on the warm store,
    reopened with a RunRegistry; the pass's graph is published first."""

    def __init__(self, spark, t: Tracer, ds, work: str, seed: int, chk: Check, stats: dict):
        from scarf_spark.catalog import DataStore
        from scarf_spark.plans.registry import RunRegistry
        from scarf_spark.workflow import ScarfDataStore

        reg_dir = os.path.join(work, "registry")
        cat_dir = os.path.join(work, "catalog")
        self.spark, self.t, self.chk, self.stats = spark, t, chk, stats
        self.ds = ScarfDataStore(
            spark, counts=ds.counts, cells=ds.cells, feats=ds.feats, registry_root=reg_dir
        )
        self.ds.markers = dict(ds.markers)
        self.registry = RunRegistry(spark, reg_dir)
        _registry_graph(t, self.ds, self.registry, DIMS, K, stats, edges=ds.edges)
        _export_catalog(spark, ds, cat_dir)
        DataStore(spark, cat_dir, register_views=True)
        self.reg_log = os.path.join(reg_dir, "registry.jsonl")
        self.rng = np.random.default_rng(seed + 7919)
        self.tables = {(DIMS, K): _edges_frame(self.ds.edges)}
        combos = [(d, k) for d in range(6, 15) for k in range(7, 16) if (d, k) != (DIMS, K)]
        self.fresh = [combos[i] for i in self.rng.permutation(len(combos))]
        active = ds.cells.where("I")
        self.groups = sorted(int(g) for g in active.select(GROUP).distinct().toPandas()[GROUP])
        self.n_counts = active.select("n_counts").toPandas()["n_counts"].to_numpy()
        self.deck: list[str] = []

    def next_kind(self) -> str:
        if not self.deck:
            self.deck = [DECK[i] for i in self.rng.permutation(len(DECK))]
        return self.deck.pop()

    def request(self, kind: str) -> None:
        getattr(self, kind)()

    def graph_hit(self) -> None:
        keys = sorted(self.tables)
        dims, k = keys[self.rng.integers(len(keys))]
        t = self.t
        from pyspark.sql import functions as F

        from scarf_spark.plans.registry import params_hash, selection_hash

        # the facade's hash and lookup, repeated outside it to time them
        with t.span("plans.registry"):
            t0 = time.perf_counter()
            ih = selection_hash(self.ds.cells.where("I").select("cell_id")) + selection_hash(
                self.ds.feats.where(F.col("hvgs")).select("feat_id")
            )
            t1 = time.perf_counter()
            hit = self.registry.lookup("knn_graph", params_hash(_graph_params(dims, k)), ih)
            t.add("plans.registry.hash_s", t1 - t0)
            t.add("plans.registry.lookup_s", time.perf_counter() - t1)
        with t.span("plans.registry"):
            got = _edges_frame(self.ds.make_graph(dims=dims, k=k))
        self.stats["lookups"] += 1
        self.stats["hits"] += hit is not None
        self.chk(hit is not None, f"graph_hit {dims},{k} missed the registry")
        self.chk(got.equals(self.tables[(dims, k)]), f"graph_hit {dims},{k} differs")

    def graph_miss(self) -> None:
        dims, k = self.fresh.pop()
        edges = _registry_graph(self.t, self.ds, self.registry, dims, k, self.stats)
        self.tables[(dims, k)] = _edges_frame(edges)

    def markers(self) -> None:
        g = self.groups[self.rng.integers(len(self.groups))]
        with self.t.span("operators.markers"):
            self.ds.get_markers(GROUP, g).toPandas()

    def sql_qc(self) -> None:
        with self.t.span("catalog"):
            t0 = time.perf_counter()
            rows = self.spark.sql(SQL_QC).collect()
            self.t.add("catalog.sql_s", time.perf_counter() - t0)
        self.chk(sum(r["cells"] for r in rows) == len(self.n_counts), "sql_qc cell total")

    def refilter(self) -> None:
        lo, hi = np.sort(self.rng.choice(np.unique(self.n_counts), 2, replace=False))
        saved = self.ds.cells
        with self.t.span("operators.filters"):
            self.ds.filter_cells(["n_counts"], [float(lo)], [float(hi)])
            n = self.ds.cells.where("I").count()
        self.ds.cells = saved
        want = int(((self.n_counts >= lo) & (self.n_counts <= hi)).sum())
        self.chk(n == want, f"refilter {n} != {want}")


def run(spark, tracer: Tracer, work: str, seed: int, seconds: float, deadline: float) -> dict:
    """Generate the store and make one untimed pass on the cold engine
    (set-up), then time untraced passes until ``seconds`` are spent (at
    least one) and check the last. Traced runs then make one traced pass,
    checked against the untraced pass's facade graph, and run the session
    until ``seconds`` are spent, finishing the deck unless the
    ``deadline`` (a ``perf_counter`` time) passes."""
    res: dict = {"ops": 0, "pass_s": [], "request_ms": []}
    chk = Check()
    t0 = time.perf_counter()
    store = os.path.join(work, "store.zarr")
    truth = gen.make_atlas(seed, store, N_CELLS, N_GENES)
    res["gen_s"] = time.perf_counter() - t0
    plain = Tracer(spark, enabled=False)
    timed = plain if tracer.enabled else tracer
    n_pass = 0

    def one_pass(t: Tracer, export: bool = True):
        nonlocal n_pass
        spark.catalog.clearCache()
        n_pass += 1
        h5ad = os.path.join(work, f"out{n_pass}.h5ad") if export else None
        n_spans = len(t.spans)
        t0 = time.perf_counter()
        out = analysis_pass(spark, t, store, h5ad, truth)
        res["ops"] += len(t.spans) - n_spans
        return time.perf_counter() - t0, h5ad, out

    # the export has no cold-start cost, so the warm-up skips it
    res["warm_pass_s"] = one_pass(plain, export=False)[0]
    end = time.perf_counter() + seconds
    while not res["pass_s"] or time.perf_counter() < end:
        wall, h5ad, (ds, labels, hvgs, found) = one_pass(timed)
        res["pass_s"].append(wall)
    res["quality"], n_nnz = check_pass(ds, truth, labels, hvgs, found, h5ad, chk)
    tracer.set("ml.cluster.ari", res["quality"]["cluster_ari"])
    size = dir_bytes(h5ad)
    tracer.set("sources.zarr.chunks_decoded", truth["chunks"])
    tracer.set("sources.zarr.bytes_read", dir_bytes(os.path.join(store, "RNA", "counts")))
    tracer.set("sources.zarr.nnz", truth["nnz"])
    tracer.set("sources.sinks.bytes_written", size)
    tracer.set("sources.sinks.bytes_per_nnz", size / max(1, n_nnz))

    if tracer.enabled:
        facade = _edges_frame(ds.edges)
        res["traced_pass_s"], _h5ad, (ds, *_rest) = one_pass(tracer)
        chk(
            _edges_frame(ds.edges).equals(facade),
            "traced composed graph != make_graph facade graph",
        )
        stats = {"lookups": 0, "hits": 0}
        sess = Session(spark, tracer, ds, work, seed, chk, stats)
        # whole decks until the run length is spent, so every request
        # kind reaches the layers it drives
        end = time.perf_counter() + seconds
        while time.perf_counter() < deadline and (sess.deck or time.perf_counter() < end):
            kind = sess.next_kind()
            r0 = time.perf_counter()
            try:
                sess.request(kind)
            except Exception as exc:  # noqa: BLE001 — count, report, go on
                chk.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            res["request_ms"].append((time.perf_counter() - r0) * 1000.0)
            res["ops"] += 1
        with open(sess.reg_log) as fh:
            tracer.set("plans.registry.log_entries", sum(1 for line in fh if line.strip()))
        tracer.set("plans.registry.hit_ratio", stats["hits"] / max(1, stats["lookups"]))
    res["checks"] = chk.n
    res["check_failures"] = chk.failures
    return res
