"""Predicates, selections and the non-destructive `I`-column idiom
(SURVEY.md §2.3, §1.4).

Reference semantics: ``MetaData.sift``/``multi_sift`` range predicates
(``scarf/metadata.py:483-533``), ``filter_cells`` AND-ing new predicates
into the validity column ``I`` (``scarf/datastore/datastore.py:92-138``),
``auto_filter_cells`` deriving bounds from median/std
(``datastore/datastore.py:140-197``), ``grep`` regex feature lookup
(``metadata.py:569-584``), ``get_index_by`` value-list lookup
(``metadata.py:339-376``), percentile clipping (``utils.py:120-140``) and
nan/inf hygiene (``utils.py:143-153``).

All are pure Catalyst expressions — predicate pushdown / column pruning
reach the parquet scan for free, which is exactly what the reference
hand-implements by slicing the Dask array before arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sift(
    df: DataFrame, col: str, min_v: float, max_v: float, keep_bounds: bool = False
) -> DataFrame:
    """1-column range predicate (``metadata.py:483-505``): strict
    min_v < x < max_v, or inclusive with keep_bounds."""
    c = F.col(col)
    if keep_bounds:
        pred = (c >= min_v) & (c <= max_v)
    else:
        pred = (c > min_v) & (c < max_v)
    return df.where(pred)


def multi_sift(df: DataFrame, cols: list[str], lows: list[float], highs: list[float]) -> DataFrame:
    """Conjunction of strict range predicates (``metadata.py:507-533``)."""
    pred = F.lit(True)
    for c, lo, hi in zip(cols, lows, highs):
        pred = pred & (F.col(c) > lo) & (F.col(c) < hi)
    return df.where(pred)


def filter_cells(cells: DataFrame, *preds: Column, i_col: str = "I") -> DataFrame:
    """Non-destructive filtering (``datastore/datastore.py:92-138``):
    AND the new predicates into the boolean validity column. Re-filtering
    never resurrects cells — I only ever becomes False."""
    new_i = F.col(i_col)
    for p in preds:
        new_i = new_i & F.coalesce(p, F.lit(False))
    return cells.withColumn(i_col, new_i)


def auto_filter_bounds(df: DataFrame, col: str, n_std: float = 2.0) -> DataFrame:
    """Driver-free analog of ``auto_filter_cells``
    (``datastore/datastore.py:140-197``): bounds = median ± n_std·std,
    computed as one global aggregate (the reference fits a Normal with
    scipy ppf; median±k·σ is the same family of derived threshold and
    keeps the whole plan in SQL)."""
    return df.agg(*auto_filter_bound_cols(col, n_std))


def auto_filter_bound_cols(
    col: str, n_std: float = 2.0, lo: str = "lo", hi: str = "hi"
) -> list:
    """The two aggregate columns of :func:`auto_filter_bounds`, named
    ``lo``/``hi`` — lets a caller fold the bounds of several attributes
    into one aggregate (one job instead of one per attribute)."""
    return [
        F.round(F.median(col) - n_std * F.stddev_samp(col), 6).alias(lo),
        F.round(F.median(col) + n_std * F.stddev_samp(col), 6).alias(hi),
    ]


def auto_filter_cells(df: DataFrame, col: str, n_std: float = 2.0) -> DataFrame:
    """Apply derived bounds via a broadcast cross-join of the 1-row
    bounds aggregate — no driver round-trip, one extra stage."""
    bounds = auto_filter_bounds(df, col, n_std)
    return df.crossJoin(F.broadcast(bounds)).where(
        (F.col(col) > F.col("lo")) & (F.col(col) < F.col("hi"))
    ).drop("lo", "hi")


def grep(feats: DataFrame, pattern: str, name_col: str = "name") -> DataFrame:
    """Regex match over (uppercased) feature names (``metadata.py:569-584``)."""
    return feats.where(F.upper(F.col(name_col)).rlike(pattern.upper()))


def get_index_by(
    df: DataFrame, values: list[str], col: str, key_col: str
) -> DataFrame:
    """Value-list lookup preserving duplicates, case-insensitive
    (``metadata.py:339-376``) — a broadcast hash join against the (tiny)
    target list, never a shuffle of the big side."""
    spark = df.sparkSession
    targets = spark.createDataFrame([(v,) for v in values], [f"_target"])
    return df.join(
        F.broadcast(targets), F.upper(F.col(col)) == F.upper(F.col("_target")), "inner"
    ).drop("_target")


def index_to_bool(df: DataFrame, selected: DataFrame, key: str, invert: bool = False,
                  out: str = "flag") -> DataFrame:
    """Indices → boolean mask (``metadata.py:378-393``) as a plain
    left equi-join producing a flag column (no forced broadcast hint —
    AQE broadcasts when the selection is small, r14)."""
    sel = selected.select(key).distinct().withColumn("_hit", F.lit(True))
    flagged = df.join(sel, key, "left_outer")
    flag = F.coalesce(F.col("_hit"), F.lit(False))
    if invert:
        flag = ~flag
    return flagged.withColumn(out, flag).drop("_hit")


def clip_fraction(df: DataFrame, col: str, frac: float = 0.01) -> DataFrame:
    """Percentile clipping (``utils.py:120-140`` rescale_array): clamp
    values outside the [frac, 1-frac] quantiles. Exact percentiles via a
    1-row aggregate broadcast back — for a 100 TB column swap
    F.percentile for percentile_approx and lose the shuffle of the full
    sort."""
    q = df.agg(
        F.percentile(F.col(col), F.lit(frac)).alias("_lo"),
        F.percentile(F.col(col), F.lit(1.0 - frac)).alias("_hi"),
    )
    return (
        df.crossJoin(F.broadcast(q))
        .withColumn(col, F.round(F.least(F.greatest(F.col(col), F.col("_lo")), F.col("_hi")), 6))
        .drop("_lo", "_hi")
    )


def clean_array(df: DataFrame, col: str, fill: float = 0.0) -> DataFrame:
    """nan/inf → fill (``utils.py:143-153``)."""
    c = F.col(col)
    return df.withColumn(
        col,
        F.when(F.isnan(c) | (c == float("inf")) | (c == float("-inf")), F.lit(fill)).otherwise(c),
    )


def stratified_sample(
    df: DataFrame, strata_col: str, frac: float, id_col: str
) -> DataFrame:
    """Deterministic exact-count stratified sampling: per stratum keep
    exactly ``ceil(frac * n)`` rows, chosen by md5-hash order of the id
    (seedless, so the same rows are selected by any engine — unlike
    ``df.sampleBy``, whose Bernoulli draw gives only the expected
    fraction and depends on partitioning).

    A training-data pipeline uses this to build class-balanced
    evaluation splits. Cost: one shuffle on the stratum key; the
    per-stratum window sort is over hash values, so it is skew-bounded
    by the largest class — salt the window's order key if one class
    dominates at extreme scale."""
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    cnt = Window.partitionBy(strata_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(cnt))
        .where(F.col("_rn") <= F.ceil(F.lit(frac) * F.col("_n")))
        .drop("_rn", "_n")
    )


def temperature_sample(
    docs: DataFrame,
    source_col: str,
    id_col: str,
    total: int,
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled source mixing: draw ``total`` documents with
    per-source quotas proportional to n_s^(1/T) — the standard
    multilingual/multi-source rebalancing rule (T=1 reproduces natural
    proportions, T→∞ uniform across sources). Rows within a source are
    chosen by md5-hash order of the id: seedless, engine-portable, and
    stable under repartitioning — the same contract as
    :func:`stratified_sample`.

    Quotas are computed on the tiny per-source histogram (driver-safe:
    one groupBy the size of the source domain) and broadcast back; the
    only large-data cost is the per-source hash-order window, bounded by
    the largest source.

    Determinism: for T=2 the weight is FLOOR(SQRT(n)) — IEEE sqrt is
    correctly rounded in every engine, so the weight, the integer
    weight total, and the integer-division quota are all bit-exact
    cross-engine (pow() carries no such guarantee, and a float quota
    like 200.0±1ulp would flip FLOOR at uniform source sizes). Other
    temperatures fall back to pow(): Spark-deterministic, not
    oracle-replayable."""
    sizes = docs.groupBy(source_col).agg(F.count("*").alias("_n"))
    if temperature == 2.0:
        w_raw = F.floor(F.sqrt(F.col("_n").cast("double"))).cast("long")
    else:
        w_raw = F.floor(
            F.pow(F.col("_n").cast("double"), F.lit(1.0 / temperature))
        ).cast("long")
    weights = sizes.select(source_col, "_n", w_raw.alias("_w"))
    tot_w = weights.agg(F.sum("_w").alias("_tw"))
    quota = (
        weights.crossJoin(F.broadcast(tot_w))
        # integer-division quota, capped at the stratum size — exact
        .select(
            source_col,
            F.least(
                F.col("_n"),
                F.expr(f"({int(total)} * _w) div _tw"),
            ).alias("_q"),
        )
    )
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    return (
        docs.join(F.broadcast(quota), source_col)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("_q"))
        .drop("_rn", "_q")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test split assignment: bucket = the
    first 60 bits of md5(id) mod 100, split by fixed percent
    thresholds. Seedless and engine-portable (any system that can md5
    reproduces the exact membership), unlike ``randomSplit`` whose
    assignment changes with partitioning and seed.

    ZERO shuffles — a pure projection the scan pipeline absorbs, so
    splitting a 100 TB corpus costs one pass and each split can be
    re-derived on demand instead of materialized."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
    bucket = h.cast("bigint") % 100
    # reuse the bound expression rather than re-resolving "bucket" by
    # name: lateral alias resolution would prefer a pre-existing input
    # column of the same name and silently mis-assign splits.
    return df.select(
        F.col(id_col),
        bucket.alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def iqr_outliers(
    df: DataFrame, value_col: str, id_col: str, k: float = 1.5
) -> DataFrame:
    """Tukey-fence outlier flagging: rows outside
    [q1 − k·IQR, q3 + k·IQR] of the value distribution — the robust
    sibling of the Normal-fit thresholds in auto_filter_cells
    (``scarf/datastore/datastore.py:140-197``). Fences are exact
    distributed percentiles ROUNDED to 6 decimals before comparison, so
    the boundary decision replays identically on any engine.

    One percentile aggregate (single-row result, broadcast back); the
    flagging itself is a pure projection."""
    q = df.agg(
        F.round(F.expr(f"percentile({value_col}, 0.25)"), 6).alias("_q1"),
        F.round(F.expr(f"percentile({value_col}, 0.75)"), 6).alias("_q3"),
    )
    lo = F.round(F.col("_q1") - F.lit(k) * (F.col("_q3") - F.col("_q1")), 6)
    hi = F.round(F.col("_q3") + F.lit(k) * (F.col("_q3") - F.col("_q1")), 6)
    return (
        df.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(F.col(value_col), 6).alias(value_col),
            ((F.col(value_col) < lo) | (F.col(value_col) > hi)).alias("is_outlier"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES, 2006): each row gets the key
    ``ln(u) / w`` with ``u ∈ (0,1)`` derived from the md5 hash of its
    id (seedless — any engine draws the same sample), and the k
    LARGEST keys win; inclusion probability is proportional to weight,
    exactly the importance-sampling rule a pipeline uses to select
    documents by quality score. Zero/negative weights never win
    (key = -infinity).

    u = (h60 + 1) / 2^60 from the usual 60-bit md5 integer — the
    division, log and division-by-weight are single IEEE ops with
    identical shapes in Spark and DuckDB, the same portability contract
    as the other md5-order samplers. Per-group top-k via one window
    (global sampling = one group; salt at extreme scale like
    stratified_sample)."""
    h60 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h60.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    key = F.when(
        F.col(weight_col) > 0, F.log(u) / F.col(weight_col).cast("double")
    ).otherwise(F.lit(float("-inf")))
    grp = [group_col] if group_col else []
    w = Window.partitionBy(*grp).orderBy(F.col("_key").desc(), F.col(id_col))
    return (
        df.withColumn("_key", key)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_key", "_rn")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget training rows (the pre-tokenization packing step of an
    LLM data pipeline — documents are concatenated in a canonical
    order and split every ``budget`` tokens; a doc whose start offset
    lands in bin s belongs to packed sequence s and may spill into
    s+1, the standard concat-and-chunk scheme).

    The canonical order is (md5-hash, id) WITHIN a hash bucket — never
    a global sort: each of the ``n_buckets`` streams packs
    independently, so the only shuffle is one hash partition + per-
    bucket sort, and buckets scale with the cluster while the packing
    stays bit-reproducible on any engine (seedless md5 order, like
    hash_split). Returns per doc its bucket, packed-sequence id within
    the bucket, and start offset in the bucket's token stream."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    toks = F.size(F.filter(F.split(F.col(text_col), " "), lambda w: w != ""))
    d = docs.select(
        F.col(id_col),
        h.alias("_h"),
        toks.cast("long").alias("n_tokens"),
        F.pmod(h, F.lit(n_buckets)).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("_h", id_col)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        F.col(id_col),
        "n_tokens",
        "bucket",
        start.alias("start_off"),
    ).select(
        id_col,
        "n_tokens",
        "bucket",
        # integer DIV (not float floor): exact on any engine
        F.expr(f"start_off div {int(budget)}").alias("seq_id"),
        "start_off",
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    budgets: dict[str, int],
    id_col: str,
) -> DataFrame:
    """Corpus mixing with EXPLICIT per-source budgets — the "data
    recipe" step of training-set assembly (N docs from source A, M from
    B, ...), the fixed-count sibling of fraction-based
    :func:`stratified_sample` and ratio-based :func:`temperature_sample`.
    Selection per source is the first ``budget`` rows in seedless
    (md5(id), id) order, so the draw is engine-reproducible and
    shrinking one budget yields a SUBSET of the larger draw (nested
    samples — what you want when ablating data recipes).

    One window shuffle on the group key; a source with fewer rows than
    its budget contributes everything it has."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    take = F.coalesce(
        *[
            F.when(F.col(group_col) == k, F.lit(v))
            for k, v in sorted(budgets.items())
        ],
        F.lit(0),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= take)
        .drop("_rn")
    )


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how much more likely its hashed-unigram bag is under
    the TARGET distribution than under the raw-corpus distribution —
    the standard recipe for selecting pretraining data that matches a
    high-quality target domain. Returns (doc_id, n_tokens,
    mean_logratio) with mean_logratio = mean over the doc's tokens of
    ln(p_target(bucket)/p_corpus(bucket)) under add-1 smoothing,
    rounded to 6 decimals (the same AVG-of-logs convention as
    ``text.unigram_logprob``).

    Hashing is the engine-portable md5→60-bit idiom, so the DuckDB
    oracle replays the bucketing bit-for-bit. Both bucket tables are
    ``n_buckets``-sized regardless of corpus size — they broadcast,
    and the corpus token stream is scored in one map-side pass plus
    one per-doc hash agg; nothing scales with the target corpus but
    one bounded aggregation over it."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).alias("b")

    def toks(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
            ).alias("term"),
        ).select(id_col, bucket)

    c_tok = toks(corpus)
    t_cnt = toks(target).groupBy("b").agg(F.count("*").alias("_tc"))
    c_cnt = c_tok.groupBy("b").agg(F.count("*").alias("_cc"))
    t_tot = t_cnt.agg(F.sum("_tc").alias("_tt"))
    c_tot = c_cnt.agg(F.sum("_cc").alias("_ct"))
    nb = float(n_buckets)
    ratio = (
        F.log((F.col("_tc") + 1.0) / (F.col("_tt") + nb))
        - F.log((F.col("_cc") + 1.0) / (F.col("_ct") + nb))
    ).alias("_lr")
    scored = (
        c_tok.join(F.broadcast(t_cnt), "b", "left_outer")
        .join(F.broadcast(c_cnt), "b")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(c_tot))
        .select(id_col, F.coalesce("_tc", F.lit(0)).alias("_tc"),
                "_cc", "_tt", "_ct")
        .select(id_col, ratio)
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("_lr"), 6).alias("mean_logratio"),
    )


def curriculum_order(docs: DataFrame, n_phases: int = 3) -> DataFrame:
    """Length-curriculum training order (Bengio 2009 curriculum
    learning, the shortest-first schedule): split the corpus into
    ``n_phases`` exact length terciles (phase 1 = shortest docs), then
    give every doc a deterministic position inside its phase by
    md5-hash order — the same seedless bit-reproducible shuffle the
    sampling family uses, so the training order is a pure function of
    the corpus.

    Both steps are the distributed rank-arithmetic forms
    (windows.global_ntile / windows.grouped_rank): no single-task
    global sort, no driver state — the exact shape a 100 TB ordering
    pass needs."""
    from scarf_spark.operators import windows

    base = docs.select("doc_id", "n_chars").withColumn(
        "_h",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
    )
    phased = windows.global_ntile(base, ["n_chars", "doc_id"], n_phases, out="phase")
    pos = windows.grouped_rank(phased, ["phase"], ["_h", "doc_id"], out="position")
    return pos.select("doc_id", "n_chars", "phase", "position")


def kcenter_sample(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embedding
    table — the diversity-sampling step of training-data curation
    (pick the point farthest from everything already picked; Gonzalez
    1985 gives the 2-approximation of the k-center cover). Seedless:
    the first center is the minimum id, each next center the
    (max-min-cosine-distance, min id) argmax — fully deterministic,
    and every arithmetic step is the same double expression on any
    engine (the proven KNN distance kernel), so the trace replays in
    an unrolled SQL CTE.

    Scale shape: the selected set is ≤ k rows and BROADCASTS to the
    min-distance join — each round is one broadcast join + one
    aggregate + one TakeOrderedAndProject(1); the corpus never
    reshuffles and nothing but k scalars ever sits on the driver (the
    argmax row stays a DataFrame; rounds chain lazily with
    localCheckpoint lineage cuts). k is a constant (coresets are
    small), so the k−1 rounds are a fixed-depth plan.
    Returns (pick_order, vec_id, dist) — dist = the farthest-point
    distance at selection time (0 for the seed), ROUND(6)."""
    from scarf_spark.operators.knn import _as_double_vec, _dot

    e = _as_double_vec(emb, id_col, vec_col).localCheckpoint(eager=True)
    first = (
        e.orderBy("vid")
        .limit(1)
        .select("vid", "v", "nrm", F.lit(0).alias("pick_order"),
                F.lit(0.0).alias("dist"))
    )
    selected = first.localCheckpoint(eager=True)
    for i in range(1, k):
        s = F.broadcast(
            selected.select(
                F.col("vid").alias("svid"), F.col("v").alias("sv"),
                F.col("nrm").alias("snrm"),
            )
        )
        # exclude already-selected points from the candidate argmax: a
        # selected point's self-distance is 1 − dot/nrm² ≈ ±2e-16, not
        # exactly 0, so on a degenerate input (everything else at
        # distance 0) it could win the argmax and be picked twice
        cand = e.join(
            selected.select(F.col("vid")), "vid", "left_anti"
        )
        dmin = (
            cand.crossJoin(s)
            .select(
                "vid", "v", "nrm",
                (
                    F.lit(1.0)
                    - _dot(F.col("v"), F.col("sv"))
                    / (F.col("nrm") * F.col("snrm"))
                ).alias("_d"),
            )
            .groupBy("vid", "v", "nrm")
            .agg(F.min("_d").alias("_dm"))
        )
        pick = (
            dmin.orderBy(F.desc("_dm"), "vid")
            .limit(1)
            .select(
                "vid", "v", "nrm", F.lit(i).alias("pick_order"),
                F.col("_dm").alias("dist"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "pick_order", F.col("vid").alias(id_col), F.round("dist", 6).alias("dist")
    )
