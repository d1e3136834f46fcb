"""Seeded input generators. Each returns the paths the program reads and
a ground-truth dict that stays in the benchmark: the program only ever
sees the files."""

from __future__ import annotations

import json
import os

import numpy as np

BLOSC = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 2, "blocksize": 0}
CHUNK = 1000
N_TYPES = 5
N_MARKERS = 10
# planted corpus shares, relative to the clean originals
EXACT_FRAC = 0.08
NEAR_FRAC = 0.08
CONTAM_FRAC = 0.02
LOW_FRAC = 0.05
N_BENCH = 40
N_PARTS = 4


# ---------------------------------------------------------------------------
# atlas: Zarr v2 counts store with planted cell types and marker genes
# ---------------------------------------------------------------------------


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def _write_counts(array_dir: str, x: np.ndarray) -> int:
    """Write a uint32 matrix as a Zarr v2 array in the reference's
    layout: 1000×1000 chunks, Blosc lz4 + bitshuffle. Returns the number
    of chunk files."""
    from scarf_spark.sources.blosc import blosc_encode

    os.makedirs(array_dir, exist_ok=True)
    _write_json(
        os.path.join(array_dir, ".zarray"),
        {
            "zarr_format": 2,
            "shape": list(x.shape),
            "chunks": [CHUNK, CHUNK],
            "dtype": "<u4",
            "compressor": BLOSC,
            "fill_value": 0,
            "order": "C",
            "filters": None,
            "dimension_separator": ".",
        },
    )
    n = 0
    for i in range(-(-x.shape[0] // CHUNK)):
        for j in range(-(-x.shape[1] // CHUNK)):
            block = np.zeros((CHUNK, CHUNK), dtype="<u4")
            part = x[i * CHUNK : (i + 1) * CHUNK, j * CHUNK : (j + 1) * CHUNK]
            block[: part.shape[0], : part.shape[1]] = part
            with open(os.path.join(array_dir, f"{i}.{j}"), "wb") as fh:
                fh.write(blosc_encode(block.tobytes(), typesize=4, shuffle=2))
            n += 1
    return n


def make_atlas(seed: int, out_dir: str, n_cells: int, n_genes: int) -> dict:
    """Poisson counts with ``N_TYPES`` planted cell types, each with
    ``N_MARKERS`` marker genes at 6-12x over baseline, per-cell library
    sizes, and a few percent empty-droplet-like and doublet-like cells
    for the QC filter to drop."""
    from scarf_spark.sources.zarr import write_zarr_1d

    rng = np.random.default_rng(seed)
    types = rng.permutation(np.arange(n_cells) % N_TYPES)
    base = rng.lognormal(-2.2, 1.3, n_genes)
    marker_genes = rng.choice(n_genes, (N_TYPES, N_MARKERS), replace=False)
    folds = np.sort(rng.uniform(6.0, 12.0, (N_TYPES, N_MARKERS)), axis=1)[:, ::-1]
    lam = np.broadcast_to(base, (n_cells, n_genes)).copy()
    for t in range(N_TYPES):
        rows = types == t
        lam[np.ix_(rows, marker_genes[t])] = np.maximum(base[marker_genes[t]], 0.4) * folds[t]
    lib = rng.lognormal(0.0, 0.3, n_cells)
    odd = rng.choice(n_cells, int(0.06 * n_cells), replace=False)
    lib[odd[: len(odd) // 2]] *= 0.15
    lib[odd[len(odd) // 2 :]] *= 2.5
    x = rng.poisson(lam * lib[:, None]).astype("<u4")
    empty = x.sum(axis=1) == 0
    x[empty, rng.integers(0, n_genes, int(empty.sum()))] = 1

    chunks = _write_counts(os.path.join(out_dir, "RNA", "counts"), x)
    ids = {"cellData": n_cells, os.path.join("RNA", "featureData"): n_genes}
    for group, n in ids.items():
        write_zarr_1d(os.path.join(out_dir, group, "ids"), np.arange(n, dtype="<i8"), CHUNK, BLOSC)
    for g in ("", "RNA", "cellData", os.path.join("RNA", "featureData")):
        _write_json(os.path.join(out_dir, g, ".zgroup"), {"zarr_format": 2})
    return {
        "x": x,
        "types": types,
        "markers": marker_genes,  # per type, strongest first
        "chunks": chunks,
        "nnz": int(np.count_nonzero(x)),
        "sum": float(x.sum(dtype=np.float64)),
    }


def expected_active(x: np.ndarray, n_std: float = 2.0) -> np.ndarray:
    """The QC filter's documented rule, recomputed on the generator's
    matrix: keep cells with n_counts and n_features both within
    median ± n_std · sample std (bounds rounded to 6 decimals)."""
    keep = np.ones(x.shape[0], dtype=bool)
    for v in (x.sum(axis=1, dtype=np.float64), np.count_nonzero(x, axis=1).astype(float)):
        sd = v.std(ddof=1)
        lo = round(float(np.median(v) - n_std * sd), 6)
        hi = round(float(np.median(v) + n_std * sd), 6)
        keep &= (v >= lo) & (v <= hi)
    return keep


# ---------------------------------------------------------------------------
# corpus: JSONL documents with planted duplicates and contamination
# ---------------------------------------------------------------------------

EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
FR_STOP = ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"]
OTHER_STOP = {
    "der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von",
    *FR_STOP, *EN_STOP,
}
SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "ju", "ze",
    "bo", "fi", "gu", "ha", "kor", "lin", "mas", "tev", "rul", "sen", "dop",
]


def _vocab(rng, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(SYLLABLES, rng.integers(2, 4)))
        if w not in OTHER_STOP:
            words.add(w)
    return sorted(words)


def make_corpus(seed: int, out_dir: str, n_docs: int) -> dict:
    """A Zipf-vocabulary English-like corpus. ``n_docs`` clean originals,
    plus planted exact copies, near-duplicates (a few word edits),
    contaminated documents (fresh text with a benchmark passage spliced
    in) and low-quality documents (short, or French stopwords). Copies
    get higher ids than every original, so the id-minimum a dedup keeps
    is the original. Also writes the benchmark set to decontaminate
    against."""
    rng = np.random.default_rng(seed)
    vocab = EN_STOP + _vocab(rng, 6000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    words = np.array(vocab)
    tail_words = words[300:]

    def fresh(lo: int = 60, hi: int = 160) -> list[str]:
        return list(words[rng.choice(len(words), rng.integers(lo, hi), p=p)])

    bench = [" ".join(rng.choice(tail_words, 40)) for _ in range(N_BENCH)]
    base: list[tuple[str, str]] = [("orig", " ".join(fresh())) for _ in range(n_docs)]
    n_low = int(LOW_FRAC * n_docs)
    for i in range(n_low):
        if i % 2:
            base.append(("low", " ".join(fresh(8, 20))))
        else:
            fr = list(rng.choice(FR_STOP, 60)) + fresh(20, 30)
            rng.shuffle(fr)
            base.append(("low", " ".join(fr)))
    for _ in range(int(CONTAM_FRAC * n_docs)):
        doc = fresh()
        passage = bench[rng.integers(N_BENCH)].split(" ")
        start = int(rng.integers(0, len(passage) - 13))
        cut = int(rng.integers(10, len(doc) - 10))
        base.append(("contam", " ".join(doc[:cut] + passage[start : start + 13] + doc[cut:])))
    order = rng.permutation(len(base))
    base = [base[i] for i in order]
    orig_idx = [i for i, (kind, _t) in enumerate(base) if kind == "orig"]

    copies: list[tuple[str, str, int]] = []
    for _ in range(int(EXACT_FRAC * n_docs)):
        src = orig_idx[rng.integers(len(orig_idx))]
        copies.append(("exact", base[src][1], src))
    for _ in range(int(NEAR_FRAC * n_docs)):
        src = orig_idx[rng.integers(len(orig_idx))]
        toks = base[src][1].split(" ")
        for e in rng.choice(len(toks), max(2, len(toks) // 40), replace=False):
            new = toks[e]
            while new == toks[e]:
                new = vocab[rng.integers(len(vocab))]
            toks[e] = new
        copies.append(("near", " ".join(toks), src))
    copies = [copies[i] for i in rng.permutation(len(copies))]

    texts = [t for _k, t in base] + [t for _k, t, _s in copies]
    kinds = [k for k, _t in base] + [k for k, _t, _s in copies]
    family = list(range(len(base))) + [s for _k, _t, s in copies]
    os.makedirs(out_dir, exist_ok=True)
    corpus_dir = os.path.join(out_dir, "docs")
    os.makedirs(corpus_dir, exist_ok=True)
    handles = [
        open(os.path.join(corpus_dir, f"part-{i:03d}.jsonl"), "w") for i in range(N_PARTS)
    ]
    try:
        for doc_id, t in enumerate(texts):
            handles[doc_id % N_PARTS].write(json.dumps({"doc_id": doc_id, "text": t}) + "\n")
    finally:
        for h in handles:
            h.close()
    bench_path = os.path.join(out_dir, "bench.jsonl")
    with open(bench_path, "w") as fh:
        for i, t in enumerate(bench):
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    kinds_a = np.array(kinds)
    return {
        "corpus_dir": corpus_dir,
        "bench_path": bench_path,
        "family": np.array(family),
        "tokens": np.array([sum(1 for w in t.split(" ") if w) for t in texts]),
        "exact": set(np.flatnonzero(kinds_a == "exact").tolist()),
        "near": set(np.flatnonzero(kinds_a == "near").tolist()),
        "contam": set(np.flatnonzero(kinds_a == "contam").tolist()),
    }
