"""Vendored pure-python HDF5 subset (minih5) + un-gated HDF5 sources."""

import struct
import zlib

import numpy as np
import pytest

from scarf_spark.sources import minih5
from scarf_spark.sources.minih5 import File, write_h5


@pytest.fixture(scope="module")
def spark():
    from scarf_spark.session import get_spark

    return get_spark("test-minih5", cpus=4, shuffle_partitions=4)


def test_write_read_roundtrip(tmp_path):
    p = str(tmp_path / "t.h5")
    write_h5(
        p,
        {
            "ints": np.array([1, 2, 3], dtype="<i8"),
            "small": np.array([7, 8], dtype="<u4"),
            "floats": np.array([1.5, -2.25], dtype="<f8"),
            "f32": np.array([0.5], dtype="<f4"),
            "strs": np.array(["ab", "cdef"], dtype="S4"),
            "mat": np.arange(12, dtype="<f8").reshape(3, 4),
            "grp": {"nested": np.array([9, 9], dtype="<i4")},
        },
    )
    with File(p) as f:
        assert sorted(f.keys()) == ["f32", "floats", "grp", "ints", "mat", "small", "strs"]
        assert f["ints"][:].tolist() == [1, 2, 3]
        assert f["small"][:].tolist() == [7, 8]
        assert f["floats"][:].tolist() == [1.5, -2.25]
        assert f["f32"].dtype == np.dtype("<f4")
        assert f["strs"].asstr()[:].tolist() == ["ab", "cdef"]
        assert f["mat"].shape == (3, 4)
        assert np.array_equal(f["mat"][1:3, :], np.arange(12).reshape(3, 4)[1:3])
        assert "nested" in f["grp"]
        assert f["grp"]["nested"][:].tolist() == [9, 9]


def test_partial_contiguous_slice_reads_range(tmp_path):
    p = str(tmp_path / "big.h5")
    arr = np.arange(1000, dtype="<f8")
    write_h5(p, {"x": arr})
    with File(p) as f:
        got = f["x"][100:200]
        assert np.array_equal(got, arr[100:200])
        # cache not populated by ranged read
        assert f["x"]._cache is None


def test_chunked_deflate_dataset(tmp_path):
    # hand-assemble a chunked + gzip'd 1-D dataset to exercise the
    # chunk B-tree / filter pipeline read path the writer doesn't emit
    p = str(tmp_path / "chunked.h5")
    arr = np.arange(10, dtype="<f8")
    chunk = 4
    out = minih5._Out()
    sb_slot, _ = out.alloc(96)
    # chunk data blocks (gzip level 6), padded edge chunk
    chunk_addrs = []
    for ci in range(3):
        part = arr[ci * chunk : (ci + 1) * chunk]
        if len(part) < chunk:
            part = np.concatenate([part, np.zeros(chunk - len(part))])
        comp = zlib.compress(part.astype("<f8").tobytes(), 6)
        slot, addr = out.alloc(len(comp))
        out.put(slot, comp)
        chunk_addrs.append((addr, len(comp), ci * chunk))
    # chunk B-tree: level 0, 3 entries; type-1 keys (size, mask, offs x2)
    n = 3
    key_sz = 8 + 8 * 2
    body = b""
    for addr, csize, off in chunk_addrs:
        body += struct.pack("<IIQQ", csize, 0, off, 0) + struct.pack("<Q", addr)
    body += struct.pack("<IIQQ", 0, 0, len(arr), 0)  # key after last
    bt = (
        b"TREE" + bytes([1, 0]) + struct.pack("<H", n)
        + struct.pack("<QQ", minih5.UNDEF, minih5.UNDEF) + body
    )
    bt_slot, bt_addr = out.alloc(len(bt))
    out.put(bt_slot, bt)
    # dataset object header: dataspace, datatype, filter, chunked layout
    space = struct.pack("<BBB5x", 1, 1, 0) + struct.pack("<Q", len(arr))
    filt = struct.pack("<BB6x", 1, 1) + struct.pack("<HHHH", 1, 0, 1, 0)
    layout = (
        struct.pack("<BBB", 3, 2, 2)
        + struct.pack("<Q", bt_addr)
        + struct.pack("<II", chunk, 8)
    )
    hdr = minih5._object_header(
        [
            minih5._msg(0x0001, space),
            minih5._msg(0x0003, minih5._dtype_message(np.dtype("<f8"))),
            minih5._msg(0x000B, filt),
            minih5._msg(0x0008, layout),
        ]
    )
    h_slot, h_addr = out.alloc(len(hdr))
    out.put(h_slot, hdr)
    # root group with one entry "x"
    heap = bytearray(8)
    name_off = len(heap)
    heap += b"x\x00" + b"\x00" * 6
    hh_slot, hh_addr = out.alloc(32)
    hd_slot, hd_addr = out.alloc(len(heap))
    out.put(hd_slot, bytes(heap))
    out.put(
        hh_slot,
        b"HEAP" + bytes([0, 0, 0, 0]) + struct.pack("<QQQ", len(heap), minih5.UNDEF, hd_addr),
    )
    snod = b"SNOD" + bytes([1, 0]) + struct.pack("<H", 1)
    snod += struct.pack("<QQI4x16x", name_off, h_addr, 0)
    sn_slot, sn_addr = out.alloc(len(snod))
    out.put(sn_slot, snod)
    gtree = (
        b"TREE" + bytes([0, 0]) + struct.pack("<H", 1)
        + struct.pack("<QQ", minih5.UNDEF, minih5.UNDEF)
        + struct.pack("<Q", 0) + struct.pack("<Q", sn_addr) + struct.pack("<Q", name_off)
    )
    gt_slot, gt_addr = out.alloc(len(gtree))
    out.put(gt_slot, gtree)
    ghdr = minih5._object_header(
        [minih5._msg(0x0011, struct.pack("<QQ", gt_addr, hh_addr))]
    )
    gh_slot, gh_addr = out.alloc(len(ghdr))
    out.put(gh_slot, ghdr)
    sb = (
        b"\x89HDF\r\n\x1a\n" + bytes([0, 0, 0, 0, 0, 8, 8, 0])
        + struct.pack("<HH", 4, 16) + struct.pack("<I", 0)
        + struct.pack("<QQQQ", 0, minih5.UNDEF, out.pos, minih5.UNDEF)
        + struct.pack("<QQI4x16x", 0, gh_addr, 0)
    )
    out.put(sb_slot, sb)
    open(p, "wb").write(out.render())
    with File(p) as f:
        assert np.array_equal(f["x"][:], arr)


def test_read_sparse_h5_ungated(spark, tmp_path):
    from scarf_spark.sources.readers import read_sparse_h5

    path = str(tmp_path / "toy.h5")
    write_h5(
        path,
        {
            "matrix": {
                "indptr": np.array([0, 2, 3, 5], dtype="<i8"),
                "indices": np.array([0, 2, 1, 0, 3], dtype="<i4"),
                "data": np.array([2.0, 1.0, 5.0, 7.0, 1.0], dtype="<f8"),
            }
        },
    )
    out = sorted(
        (r["cell_id"], r["feat_id"], r["value"])
        for r in read_sparse_h5(spark, path, batch_size=2).collect()
    )
    assert out == [(0, 0, 2.0), (0, 2, 1.0), (1, 1, 5.0), (2, 0, 7.0), (2, 3, 1.0)]


def test_read_h5ad_ungated(spark, tmp_path):
    from scarf_spark.sources.readers import read_h5ad

    path = str(tmp_path / "toy.h5ad")
    write_h5(
        path,
        {
            "X": {  # CSR: 2 cells x 3 feats
                "indptr": np.array([0, 2, 3], dtype="<i8"),
                "indices": np.array([0, 2, 1], dtype="<i4"),
                "data": np.array([4.0, 6.0, 5.0], dtype="<f8"),
            },
            "obs": {
                "total": np.array([10.0, 5.0], dtype="<f8"),
                "group": {
                    "codes": np.array([1, 0], dtype="<i1"),
                    "categories": np.array(["aa", "bb"], dtype="S4"),
                },
            },
            "var": {"score": np.array([1, 2, 3], dtype="<i8")},
        },
    )
    counts, cells, feats = read_h5ad(spark, path, batch_size=1)
    got = sorted(
        (r["cell_id"], r["feat_id"], r["value"]) for r in counts.collect()
    )
    assert got == [(0, 0, 4.0), (0, 2, 6.0), (1, 1, 5.0)]
    crow = {r["cell_id"]: r for r in cells.collect()}
    assert crow[0]["group"] == "bb" and crow[1]["group"] == "aa"
    assert crow[0]["total"] == 10.0
    assert sorted(r["score"] for r in feats.collect()) == [1, 2, 3]


def test_read_loom_ungated(spark, tmp_path):
    from scarf_spark.sources.readers import read_loom

    path = str(tmp_path / "toy.loom")
    # features x cells, transposed on consume
    mat = np.array([[0.0, 3.0], [2.0, 0.0], [0.0, 0.0]], dtype="<f8")
    write_h5(path, {"matrix": mat})
    got = sorted(
        (r["cell_id"], r["feat_id"], r["value"])
        for r in read_loom(spark, path, batch_size=2).collect()
    )
    assert got == [(0, 1, 2.0), (1, 0, 3.0)]


def test_to_h5ad_roundtrip_ungated(spark, tmp_path):
    from scarf_spark.sources.readers import read_h5ad
    from scarf_spark.sources.sinks import to_h5ad

    counts = spark.createDataFrame(
        [(0, 0, 4.0), (0, 2, 6.0), (1, 1, 5.0)],
        "cell_id long, feat_id long, value double",
    )
    cells = spark.createDataFrame([(0, "x"), (1, "y")], "cell_id long, name string")
    feats = spark.createDataFrame([(0,), (1,), (2,)], "feat_id long")
    path = str(tmp_path / "out.h5ad")
    to_h5ad(counts, cells, feats, path, n_cells=2, n_feats=3)
    back, bcells, bfeats = read_h5ad(spark, path)
    got = sorted((r["cell_id"], r["feat_id"], r["value"]) for r in back.collect())
    assert got == [(0, 0, 4.0), (0, 2, 6.0), (1, 1, 5.0)]
    assert bcells.count() == 2 and bfeats.count() == 3
    # matrix dims travel as a plain X/shape dataset (the minih5 writer
    # cannot emit HDF5 attributes, so attrs-only shape would be lost)
    from scarf_spark.sources.minih5 import File

    with File(path) as f:
        assert [int(x) for x in f["X"]["shape"][:]] == [2, 3]


def test_to_h5ad_writes_obs_var_in_index_order(spark, tmp_path):
    """obs/var are positional in AnnData: rows arriving out of order
    are written sorted by their dense id."""
    from scarf_spark.sources.minih5 import File
    from scarf_spark.sources.sinks import to_h5ad

    counts = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 2.0), (2, 1, 3.0), (2, 0, 4.0)],
        "cell_id long, feat_id long, value double",
    )
    cells = spark.createDataFrame(
        [(2, 7.0), (0, 1.0), (1, 2.0)], "cell_id long, n_counts double"
    )
    feats = spark.createDataFrame([(1,), (0,)], "feat_id long")
    path = str(tmp_path / "order.h5ad")
    to_h5ad(counts, cells, feats, path, n_cells=3, n_feats=2)
    with File(path) as f:
        assert [int(v) for v in f["obs"]["cell_id"][:]] == [0, 1, 2]
        assert [float(v) for v in f["obs"]["n_counts"][:]] == [1.0, 2.0, 7.0]
        assert [int(v) for v in f["var"]["feat_id"][:]] == [0, 1]
        assert [int(v) for v in f["X"]["indptr"][:]] == [0, 1, 2, 4]
        assert [int(v) for v in f["X"]["indices"][:]] == [1, 0, 0, 1]
