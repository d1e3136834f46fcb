"""Sinks / exporters (SURVEY.md §2.2): COO DataFrames → files.

The reference streams chunks into Zarr or rebuilds CSR for AnnData
(``scarf/writers.py:245-364``, ``writers.py:1113-1304``). Spark-first:
writes are inherently chunked and distributed; the driver-side pieces
are the constant-size MTX header and the AnnData export, whose target
is one in-memory object — its tables cross as Arrow batches
(``toPandas``) and are ordered and densified in numpy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_mtx(
    counts: DataFrame,
    out_dir: str,
    n_cells: int | None = None,
    n_feats: int | None = None,
    single_file: bool = True,
) -> str:
    """MatrixMarket export (``scarf/writers.py:1262-1304`` to_mtx):
    1-indexed (feature, cell, value) triplets. ``single_file=True``
    coalesces to one part for tool compatibility (the format demands a
    leading header — inherently sequential); at scale set False to get
    a directory of header-less parts plus a sidecar header, the same
    split the reference's chunked writer performs."""
    stats = counts.agg(
        F.countDistinct("cell_id").alias("nc"),
        F.countDistinct("feat_id").alias("nf"),
        F.count("*").alias("nnz"),
        F.max("cell_id").alias("maxc"),
        F.max("feat_id").alias("maxf"),
    ).collect()[0]
    n_cells = n_cells if n_cells is not None else int(stats["maxc"]) + 1
    n_feats = n_feats if n_feats is not None else int(stats["maxf"]) + 1
    nnz = int(stats["nnz"])
    body = counts.select(
        (F.col("feat_id") + 1).cast("long"),
        (F.col("cell_id") + 1).cast("long"),
        F.col("value"),
    )
    os.makedirs(out_dir, exist_ok=True)
    header_path = os.path.join(out_dir, "header.mtx")
    with open(header_path, "w") as fh:
        fh.write("%%MatrixMarket matrix coordinate real general\n")
        fh.write(f"{n_feats} {n_cells} {nnz}\n")
    body_dir = os.path.join(out_dir, "body")
    writer = body.coalesce(1) if single_file else body
    writer.write.mode("overwrite").option("delimiter", " ").csv(body_dir)
    return out_dir


def export_knn_to_mtx(edges: DataFrame, out_dir: str, n_nodes: int | None = None) -> str:
    """KNN graph → MTX (``scarf/knn_utils.py:162-192``): the adjacency
    as weighted triplets."""
    e = edges.select(
        F.col("src").alias("feat_id"),
        F.col("dst").alias("cell_id"),
        F.col("weight").alias("value"),
    )
    return to_mtx(e, out_dir, n_cells=n_nodes, n_feats=n_nodes)


def subset_assay(
    counts: DataFrame,
    cells_sel: DataFrame,
    feats_sel: DataFrame,
    out_path: str | None = None,
) -> DataFrame:
    """Materialize a row/column subset (``scarf/writers.py:877-912``
    subset_assay_zarr / SubsetZarr): dual left-semi join pushed to the
    scan (Catalyst turns these into broadcast semi-joins when the
    selections are small — the common case), then an ordinary
    distributed write."""
    out = counts.join(
        cells_sel.select("cell_id"), "cell_id", "left_semi"
    ).join(F.broadcast(feats_sel.select("feat_id")), "feat_id", "left_semi")
    if out_path:
        out.write.mode("overwrite").parquet(out_path)
    return out


def to_wide(counts: DataFrame, feat_ids: list[int], prefix: str = "f") -> DataFrame:
    """Dense wide export for driver-side consumption
    (``scarf/writers.py:1113-1259`` to_h5ad's CSR rebuild, and
    ``datastore/datastore.py:1118-1157`` to_anndata): pivot the COO to
    one column per selected feature, absent entries zero-filled.
    Bounded by an explicit feature list — never pivot an unbounded
    feature space."""
    fids = [int(f) for f in feat_ids]
    # one conditional-sum aggregate per selected feature over ALL cells —
    # cells expressing none of them still get an (all-zero) row, matching
    # the dense export; single hash agg, no pivot shuffle, no cell dropped
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("feat_id") == f, F.col("value"))), F.lit(0.0)
        ).cast("double").alias(f"{prefix}{f}")
        for f in fids
    ]
    return counts.groupBy("cell_id").agg(*aggs)


def lookup_sorted(ids, values):
    """Positions of ``values`` in the sorted, unique id array ``ids``
    and a mask of the values actually present — the driver-side id
    densification (``np.searchsorted``) that stands in for a
    ``zipWithIndex`` job plus a join: absent values are masked out,
    the way the inner join dropped them."""
    import numpy as np

    ids = np.asarray(ids)
    values = np.asarray(values)
    pos = np.searchsorted(ids, values)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == values[found]
    return pos, found


def csr_from_coo(ci, fi, data, n_cells: int):
    """CSR arrays (indptr, indices, data) from dense-index COO arrays,
    rows ordered by (cell, feature) with ``np.lexsort``."""
    import numpy as np

    ci = np.asarray(ci, dtype=np.int64)
    order = np.lexsort((fi, ci))
    indptr = np.zeros(n_cells + 1, dtype=np.int64)
    np.add.at(indptr[1:], ci, 1)
    indptr = np.cumsum(indptr)
    return (
        indptr,
        np.asarray(fi, dtype=np.int64)[order],
        np.asarray(data, dtype=np.float64)[order],
    )


def coo_to_csr_arrays(counts: DataFrame, n_cells: int, n_feats: int):
    """Collect the COO table into CSR arrays (indptr, indices, data) —
    the reconstruction step of the reference's AnnData export
    (``writers.py:1113-1259`` to_h5ad; ``datastore.py:1118-1157``
    to_anndata). driver_compute by definition (the export target is a
    single in-memory object), so the table crosses as Arrow batches
    (``toPandas``) and is ordered by (cell, feat) on the driver, which
    keeps the arrays deterministic."""
    pdf = counts.select("cell_id", "feat_id", "value").toPandas()
    return csr_from_coo(
        pdf["cell_id"].to_numpy(), pdf["feat_id"].to_numpy(),
        pdf["value"].to_numpy(), n_cells,
    )


def _h5_columns(pdf) -> dict:
    out = {}
    for c in pdf.columns:
        v = pdf[c].to_numpy()
        out[c] = v.astype("S") if v.dtype.kind == "O" else v
    return out


def write_h5ad(path: str, indptr, indices, data, obs, var, n_cells: int, n_feats: int) -> str:
    """Write CSR arrays plus ``obs``/``var`` tables (pandas frames,
    already in matrix row / column order) as an AnnData-compatible
    ``.h5ad``. Uses h5py when installed; otherwise the vendored
    pure-python HDF5 writer (``sources/minih5.write_h5``), so the
    export runs un-gated."""
    import numpy as np

    obs, var = _h5_columns(obs), _h5_columns(var)
    # shape is written BOTH as the AnnData attr (h5py path) and as a
    # plain X/shape int64[2] dataset in both paths: the minih5 writer
    # has no attribute-message support, so without the dataset a
    # fallback-written file would silently lack the matrix dims
    shape = np.array([n_cells, n_feats], dtype="<i8")
    try:
        import h5py

        with h5py.File(path, "w") as f:
            x = f.create_group("X")
            x["indptr"] = indptr
            x["indices"] = indices
            x["data"] = data
            x["shape"] = shape
            x.attrs["shape"] = (n_cells, n_feats)
            for key, cols in (("obs", obs), ("var", var)):
                g = f.create_group(key)
                for c, v in cols.items():
                    g[c] = v
    except ImportError:
        from scarf_spark.sources.minih5 import write_h5

        write_h5(
            path,
            {
                "X": {
                    "indptr": indptr,
                    "indices": indices,
                    "data": data,
                    "shape": shape,
                },
                "obs": obs,
                "var": var,
            },
        )
    return path


def to_h5ad(
    counts: DataFrame,
    cells: DataFrame,
    feats: DataFrame,
    path: str,
    n_cells: int,
    n_feats: int,
) -> str:
    """Export to an AnnData-compatible ``.h5ad`` (CSR X group + obs/var
    tables, ``writers.py:1113-1259``) via :func:`write_h5ad`. AnnData's
    ``obs``/``var`` are positional — row i describes CSR row i — so
    they are sorted by their (dense) ``cell_id`` / ``feat_id`` before
    writing, whatever order the upstream plan emits them in."""
    indptr, indices, data = coo_to_csr_arrays(counts, n_cells, n_feats)

    def _ordered(df, key):
        pdf = df.toPandas()
        if key in pdf.columns:
            pdf = pdf.sort_values(key, kind="stable", ignore_index=True)
        return pdf

    return write_h5ad(
        path, indptr, indices, data,
        _ordered(cells, "cell_id"), _ordered(feats, "feat_id"),
        n_cells, n_feats,
    )


def compact_parquet(
    spark,
    path: str,
    target_mb: int = 128,
    out_path: str | None = None,
) -> str:
    """Small-files compaction: rewrite a parquet directory into files
    near ``target_mb`` each — the maintenance pass every long-running
    ingest needs (streaming `foreachBatch` and per-trigger appends
    leave thousands of KB-sized files whose open/footer cost dominates
    scans at warehouse scale).

    File count = ceil(on-disk bytes / target): computed from the
    FileSystem listing (no data read), then one `repartition(n)` write.
    Parquet compression makes the mapping approximate — close enough
    for the open-cost problem, which is about order of magnitude, not
    exact sizes. In-place compaction writes to `<path>__compact` then
    atomically points the caller at it; a real lakehouse would do this
    under a table format's transaction log instead."""
    import math

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    summary = fs.getContentSummary(p)
    total_bytes = summary.getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    dst = out_path or (path.rstrip("/") + "__compact")
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(dst)
    return dst


def write_partitioned(
    df: DataFrame, out_dir: str, partition_cols: list[str]
) -> str:
    """Hive-partitioned parquet layout — the table organization that
    makes partition PRUNING (not just row-group skipping) work at
    100 TB: a reader's filter on a partition column eliminates whole
    directories before any file is opened, visible in the scan plan as
    PartitionFilters. Pair with Z-order keys (``sort_zorder``) inside
    each partition for two-level skipping.

    One shuffle-free write when the partition column correlates with
    input order; otherwise Spark's dynamic partition insert handles
    fan-out. Returns the output directory."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(out_dir)
    return out_dir
