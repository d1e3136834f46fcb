"""End-to-end reference-shaped workflow facade (ScarfDataStore):
filter → HVG → graph → cluster → UMAP → markers, plus registry
memoization of the graph build."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scarf_spark.workflow import ScarfDataStore


@pytest.fixture(scope="module")
def wf(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("registry"))
    return ScarfDataStore(spark, sf_dir=sf_dir, registry_root=root)


def test_filter_and_hvgs(wf):
    n_all = wf.cells.count()
    wf.auto_filter_cells(["n_counts"], n_std=3.0)
    n_active = wf.cells.where("I").count()
    assert 0 < n_active <= n_all
    wf.mark_hvgs(top_n=20)
    assert wf.feats.where("hvgs").count() == 20


def test_make_graph_and_memoize(wf):
    edges = wf.make_graph(dims=3, k=4)
    n = edges.count()
    assert n > 0
    cols = set(edges.columns)
    assert {"src", "dst", "weight"} <= cols
    # same params + same selection -> registry cache hit (same rows)
    again = wf.make_graph(dims=3, k=4)
    assert again.count() == n
    assert wf._registry.latest("knn_graph") is not None


def test_clustering_columns(wf):
    wf.run_leiden_clustering(n_iter=2)
    wf.run_clustering(n_clusters=3)
    cols = wf.cells.columns
    assert "RNA_leiden_cluster" in cols and "RNA_cluster" in cols
    labeled = wf.cells.where("I").where("RNA_cluster IS NOT NULL")
    assert labeled.count() > 0
    # a disconnected KNN forest yields >= n_clusters components; the
    # cut can only add clusters beyond the requested 3, never fewer
    n_clusters = labeled.select("RNA_cluster").distinct().count()
    assert n_clusters >= 1


def test_umap_columns(wf):
    wf.run_umap(n_epochs=5)
    cols = wf.cells.columns
    assert "RNA_UMAP1" in cols and "RNA_UMAP2" in cols
    # cells without any HVG expression have no vector -> no layout row;
    # every laid-out cell must carry both coordinates
    n_laid = wf.cells.where("RNA_UMAP1 IS NOT NULL").count()
    assert n_laid > 0
    assert wf.cells.where(
        "RNA_UMAP1 IS NOT NULL AND RNA_UMAP2 IS NULL"
    ).count() == 0


def test_marker_search_and_get(wf):
    wf.run_marker_search("RNA_cluster")
    any_group = (
        wf.cells.where("I")
        .where("RNA_cluster IS NOT NULL")
        .groupBy("RNA_cluster")
        .count()
        .orderBy("count", ascending=False)
        .first()["RNA_cluster"]
    )
    top = wf.get_markers("RNA_cluster", any_group, top_n=5).collect()
    assert 0 < len(top) <= 5
    assert all(r["group"] == any_group for r in top)


def test_round9_reference_surface(wf, tmp_path):
    """The round-9 facade additions: pseudotime / membership /
    smart_label / make_bulk / grouped assay / sketch / metrics / cc
    scoring / h5ad export all run off the same store state."""
    wf.run_pseudotime()
    assert "RNA_pseudotime" in wf.cells.columns
    pt = wf.cells.where("RNA_pseudotime IS NOT NULL")
    assert pt.count() > 0
    lo, hi = pt.agg(
        F.min("RNA_pseudotime"), F.max("RNA_pseudotime")
    ).first()
    assert 0.0 <= lo and hi <= 1.0

    ms = wf.calc_membership_strength("RNA_cluster").collect()
    assert len(ms) > 0 and all(0.0 <= r["strength"] <= 1.0 for r in ms)

    # round-10 distributed twins share the store state and contracts
    wf.run_pseudotime_distributed(n_iter=4)
    pt2 = wf.cells.where("RNA_pseudotime IS NOT NULL")
    lo2, hi2 = pt2.agg(
        F.min("RNA_pseudotime"), F.max("RNA_pseudotime")
    ).first()
    assert pt2.count() > 0 and 0.0 <= lo2 and hi2 <= 1.0
    wf.run_spectral_embedding(dims=2, n_iter=3)
    assert {"RNA_spectral1", "RNA_spectral2"} <= set(wf.cells.columns)
    assert wf.cells.where("RNA_spectral1 IS NOT NULL").count() > 0

    sl = wf.smart_label("RNA_cluster", "RNA_leiden_cluster").collect()
    assert len(sl) > 0

    bulk = wf.make_bulk("RNA_cluster")
    assert {"group", "feat_id", "sum_value"} <= set(bulk.columns)
    assert bulk.count() > 0

    wf.feats = wf.feats.withColumn("fg", (F.col("feat_id") % 3).cast("string"))
    ga = wf.add_grouped_assay("fg")
    assert ga.count() > 0

    wf.run_topacedo_sampler("RNA_cluster", cap_per_cluster=10)
    kept = wf.cells.where("RNA_sketched").count()
    assert 0 < kept <= wf.cells.where("I").count()

    wf.run_cell_cycle_scoring(s_regex="^F1", g2m_regex="^F2")
    phases = {r["RNA_phase"] for r in wf.cells.where("I").select("RNA_phase").distinct().collect()}
    assert phases <= {"S", "G2M", "G1", None}

    sil = wf.metric_silhouette("RNA_cluster").collect()
    assert len(sil) > 0

    out = wf.to_anndata(str(tmp_path / "export.h5ad"))
    import os
    assert os.path.getsize(out) > 0


def _jobs_in_group(spark, group: str, action):
    """Run ``action`` under a job group and return how many Spark jobs
    it submitted (counted once the listener bus has caught up)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hvg_probe_does_not_replay_fact_table(spark, sf_dir):
    """feats is checkpointed after mark_hvgs: a repeated HVG probe reads
    the feature-sized table, not the fact table's lineage."""
    ds = ScarfDataStore(spark, sf_dir=sf_dir)
    ds.mark_hvgs(top_n=10)
    first = ds.feats.where("hvgs").collect()
    again, n_jobs = _jobs_in_group(
        spark, "hvg-probe", lambda: ds.feats.where("hvgs").collect()
    )
    assert sorted(again) == sorted(first) and len(first) == 10
    assert n_jobs <= 2, f"repeated HVG probe ran {n_jobs} jobs"


def test_auto_filter_cells_matches_per_attribute_bounds(spark, sf_dir):
    """The one-aggregate auto_filter_cells gives the same I mask as
    ANDing auto_filter_bounds of each attribute over all cells."""
    from scarf_spark.operators.filters import auto_filter_bounds

    attrs = ["n_counts", "n_features"]
    ds = ScarfDataStore(spark, sf_dir=sf_dir)
    base = ds.cells
    ds.auto_filter_cells(attrs, n_std=1.0)
    want = base
    for a in attrs:
        b = auto_filter_bounds(base, a, 1.0).collect()[0]
        want = want.withColumn(
            "I", F.col("I") & F.col(a).between(float(b["lo"]), float(b["hi"]))
        )
    got = dict(ds.cells.select("cell_id", "I").collect())
    exp = dict(want.select("cell_id", "I").collect())
    assert got == exp
    assert 0 < sum(exp.values()) < len(exp)  # the bounds do filter


def test_to_anndata_obs_rows_match_matrix_rows(spark, sf_dir, tmp_path):
    """AnnData obs is positional: row i must describe CSR row i."""
    from scarf_spark.sources import minih5

    ds = ScarfDataStore(spark, sf_dir=sf_dir)
    ds.auto_filter_cells(["n_counts"], n_std=1.0)
    path = ds.to_anndata(str(tmp_path / "ordered.h5ad"))
    with minih5.File(path) as f:
        indptr = f["X"]["indptr"][:]
        data = f["X"]["data"][:]
        cell_id = f["obs"]["cell_id"][:]
        n_counts = f["obs"]["n_counts"][:]
        feat_id = f["var"]["feat_id"][:]
    n = len(indptr) - 1
    assert n == ds.cells.where("I").count()
    assert np.array_equal(cell_id, np.arange(n))
    assert np.array_equal(feat_id, np.arange(len(feat_id)))
    row_sums = np.array([data[indptr[i] : indptr[i + 1]].sum() for i in range(n)])
    assert np.allclose(n_counts, row_sums, rtol=0, atol=1e-9)
