"""Vector similarity operators over `array<float>` embedding columns
(SURVEY.md §2.11 north-star set).

Numeric discipline: components are quantized to 1e-6 integers (carried
as float64), so every dot product / norm is EXACT integer arithmetic
below 2^53 — associative, order-independent, and bit-identical between
a numpy BLAS matmul, a JVM fold, and DuckDB's list_sum. That is what
makes the similarity operators (even the ANN ones) oracle-checkable.
The hot path is an Arrow-batched numpy kernel (`_stack_quantized` →
matmul) — Spark's array higher-order functions are interpreted
(~µs/element) and are used only on tiny frames (cell centroids).

One exact-verify core, many candidate generators: every kernel scores
through the same module-level numpy helpers — `_norms` (norms + the
valid mask: zero-norm and non-finite rows never rank or pair),
`_cos_block` (masked cosine matrix), `_block_pairs` (unordered
id_a < id_b pairs of one block), `_centroid_scores` (quantized
nearest-centroid scores) — plus two plan tails, `_scan_topk` (one
query) and `_rank_per_query` (a query batch). The operators differ
only in which rows reach the core:
- `knn_bruteforce`: every row — a linear, embarrassingly parallel scan
  feeding TakeOrderedAndProject, the right baseline even at 100 TB
  when k is small and queries are few;
- `ivf_topk` / `ann_topk_rp`: the probed cells / hamming-near buckets
  only, for repeated queries; `sq8_rerank_topk`: an int8 candidate cut;
- all-pairs ops (`top_similar_pairs`, `neardup_map`): the unordered
  block-pair grid (`_grid_pairs` — no driver collect, arbitrary n);
  `neardup_pairs_lsh_banded` / `semdedup_map`: band-code buckets /
  nearest-centroid clusters, verified by the same pair extractor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUANT = 1_000_000.0

# The corrupt-component magnitude bound (r11 extreme-vector hunt): a
# component with |x| > 1e12 quantizes past BIGINT at 1e-6 precision
# (CAST_OVERFLOW on both engines' training paths — five queries
# crashed on a doctored 1e30 row) and is 12 orders of magnitude beyond
# any real embedding's scale. Such a component is CORRUPT and behaves
# exactly like a NaN component on every path: kernel paths map it to
# NaN in quantize_np (NaN norm -> excluded), JVM explode paths exclude
# it via _has_corrupt_component / the per-component filters, and the
# oracles carry `abs(x) > 1e12` alongside their isnan/isinf checks.
COMPONENT_BOUND = 1e12


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def quantized(col: Column | str) -> Column:
    """Components rounded to 1e-6 integers (carried as DOUBLE).

    With dim ≤ ~4000 and |x| ≤ ~2, every product (≤1e12-ish) and every
    partial sum of a dot product stays below 2^53, so float64 arithmetic
    on quantized components is EXACT integer arithmetic — associative,
    order-independent, and therefore bit-identical between a BLAS matmul,
    a JVM fold, and DuckDB's list_sum. This is what makes an exact
    distributed top-k-pairs oracle-checkable (see top_similar_pairs).
    """
    return F.transform(as_double(col), lambda x: F.round(x * QUANT))


def dot(a: Column, b: Column) -> Column:
    """Left-fold double dot product (matches DuckDB list_sum order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def knn_bruteforce(
    df: DataFrame,
    query_vec_quantized: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by quantized-integer cosine vs a literal query vector.

    Plans as scan → Arrow cosine kernel → TakeOrderedAndProject: no
    shuffle of the vectors, only k rows cross the network per partition.
    The kernel is the same quantized BLAS path as the ANN variants
    (`_stack_quantized`): exact integer arithmetic in float64, so the
    result is bit-identical to the DuckDB quantized-double oracle. An
    earlier formulation used interpreted `zip_with`+`aggregate` folds —
    correct, but ~µs/element (4 s at sf0.1 vs <1 s for this kernel).

    Degenerate inputs (the `ivf_batch_probe` discipline): a zero-norm
    corpus vector — whose cosine is undefined — is EXCLUDED from the
    ranking deterministically (valid mask, never a NaN that would sort
    first under DESC); a zero-norm QUERY has no defined neighbor set and
    returns an empty frame. Mirrored in the v01 oracle's `nrm > 0`
    predicate. A RAGGED corpus vector (size ≠ the query's dimension)
    has no defined cosine against the query at all — excluded with the
    NULL rows (`_ids_vectors` dim filter; the oracle's
    len(embedding) = len(q) predicate).

    `query_vec_quantized` must already be 1e-6-quantized (see
    `quantize_np`; Python round() is half-to-even and would drift).
    """
    qq = np.asarray([float(x) for x in query_vec_quantized], dtype=np.float64)
    return _scan_topk(_ids_vectors(df, id_col, vec_col, dim=len(qq)), qq, k, id_col)


def _cos_out(col: str) -> Column:
    """A raw exact cosine as the operators' output column: rounded to
    the 1e-6 grid the oracles compare (`round(x*1e6)/1e6`)."""
    return (F.round(F.col(col) * QUANT) / QUANT).alias("cos")


def _norms(A):
    """Row norms of a quantized matrix and its VALID mask — the one
    place the degenerate-vector rule lives: a zero-norm row (cosine
    undefined) and a non-finite row (NULL/NaN/Inf or, via
    `quantize_np`, |x| > COMPONENT_BOUND components) never rank, pair
    or take a centroid, so no NaN ever reaches a comparison."""
    an = np.sqrt((A * A).sum(axis=1))
    return an, np.isfinite(an) & (an > 0.0)


def _cos_block(A, an, va, B, bn, vb):
    """Cosine matrix of rows of A against rows of B: exact integer dots
    divided by the norm products. Invalid rows divide by 1 — their
    entries are garbage the callers mask with ``va``/``vb``."""
    return (A @ B.T) / (np.where(va, an, 1.0)[:, None] * np.where(vb, bn, 1.0)[None, :])


def _block_pairs(pdf, ids, tau: float | None = None):
    """The unordered-pair extractor of one block of rows (a grid
    diagonal group, a band bucket, a cluster): every pair with
    id_a < id_b, both rows valid and, when ``tau`` is given,
    cos >= tau. Returns (id_a, id_b, raw_cos) arrays."""
    if len(ids) < 2:  # most band buckets are singletons: skip the stack
        return ids[:0], ids[:0], np.empty(0)
    A = _stack_quantized(pdf)
    an, va = _norms(A)
    S = _cos_block(A, an, va, A, an, va)
    keep = (ids[:, None] < ids[None, :]) & va[:, None] & va[None, :]
    if tau is not None:
        keep &= S >= tau
    ai, bi = np.nonzero(keep)
    return ids[ai], ids[bi], S[ai, bi]


def _centroid_scores(A, an, va, C, cn, vc):
    """Nearest-centroid scores of rows of A against centroid rows C
    (sorted by cell id), as 1e-6-quantized integers (round-half-away,
    the `quantize_np` convention) so every rank compares the BIGINTs
    the oracles rank. A zero-norm centroid scores -inf for everyone and
    an invalid row scores -inf everywhere; argmax's first-max rule over
    the cell-sorted columns breaks ties to the lowest cell."""
    S = _cos_block(A, an, va, C, cn, vc)
    S[:, ~vc] = -np.inf
    S[~va, :] = -np.inf
    return np.copysign(np.floor(np.abs(S * QUANT) + 0.5), S)


def _scan_topk(frame: DataFrame, qq, k: int, id_col: str, row_mask=None) -> DataFrame:
    """The single-query exact scan behind `knn_bruteforce`, `ivf_topk`
    and `ann_topk_rp` — each only chooses the (_id, _qv) rows of
    ``frame``. A zero-norm (or NULL/NaN-component) query has no defined
    neighbors and short-circuits on the DRIVER, never paying a corpus
    scan to yield nothing. Otherwise one Arrow kernel scores each valid
    row (narrowed further by ``row_mask(A)`` when given) and only the
    top ``k`` by (cos desc, id asc) survive TakeOrderedAndProject."""
    qn, qv = _norms(qq[None, :])
    if not qv[0]:
        return frame.sparkSession.createDataFrame([], f"{id_col} long, cos double")
    bc = frame.sparkSession.sparkContext.broadcast((qq, float(qn[0])))

    def kernel(batches):
        q, qnorm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            an, keep = _norms(A)
            if row_mask is not None:
                keep &= row_mask(A)
            if keep.any():
                yield pd.DataFrame(
                    {
                        id_col: pdf["_id"].to_numpy(dtype=np.int64)[keep],
                        "_raw": (A[keep] @ q) / (an[keep] * qnorm),
                    }
                )

    out = frame.mapInPandas(kernel, schema=f"{id_col} long, _raw double")
    return out.orderBy(F.desc("_raw"), F.asc(id_col)).limit(k).select(id_col, _cos_out("_raw"))


def _rank_per_query(out: DataFrame, k: int, qid_col: str, id_col: str) -> DataFrame:
    """The query-batch tail of `batch_knn` and `ivf_batch_probe`: each
    query's global top ``k`` by (cos desc, id asc) as a
    WindowGroupLimit-pruned row_number over the kernel's (qid, id,
    _raw) rows."""
    w = Window.partitionBy(qid_col).orderBy(F.desc("_raw"), F.asc(id_col))
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(qid_col, id_col, F.col("rk").cast("int").alias("rk"), _cos_out("_raw"))
        .orderBy(qid_col, "rk")
    )


def quantize_np(a):
    """Exact numpy equivalent of `quantized` (round-half-away of x*1e6).

    For |x*1e6| < 2^51 the f64 sum `abs(v) + 0.5` is exact (0.5 is a
    multiple of ulp), so `floor(abs(v)+0.5)` is bit-identical to Spark's
    ROUND (BigDecimal HALF_UP over the exact decimal of the double) and
    DuckDB's round. Quantizing inside an Arrow kernel instead of with
    the `transform(round(...))` higher-order function matters: HOFs are
    interpreted per element (~10 µs/elem with BigDecimal churn) — the
    JVM-side quantize of a 2000×64 matrix alone cost more than the
    whole BLAS similarity kernel.
    """
    try:
        v = np.asarray(a, dtype=np.float64)
    except (TypeError, ValueError):
        # a Python list straight off a Row can carry None components
        # (the NULL-component corrupt class) — map them to NaN, the
        # same value Arrow hands the kernels, so the NaN-norm guards
        # see one representation driver-side and executor-side
        v = np.asarray(
            [np.nan if x is None else float(x) for x in a], dtype=np.float64
        )
    v = v * QUANT
    # EXTREME-MAGNITUDE components (r11 hunt): |x| > COMPONENT_BOUND
    # quantizes past BIGINT (the JVM training paths crash with
    # CAST_OVERFLOW, DuckDB's CAST errors the same way) and its f64
    # products leave the exact-integer window — not an embedding.
    # Mapping it to NaN HERE makes every kernel treat a huge component
    # exactly like a NaN component (NaN norm -> excluded by the
    # existing isfinite guards), with zero per-kernel changes.
    v = np.where(np.abs(v) > COMPONENT_BOUND * QUANT, np.nan, v)
    return np.copysign(np.floor(np.abs(v) + 0.5), v)


def _has_corrupt_component(col: Column | str) -> Column:
    """True when the array itself is non-NULL but some COMPONENT is
    NULL, NaN, or ±Inf — the corrupt-component classes next to NULL
    vectors and ragged dimensions. Engine kernels exclude NULL/NaN
    rows for free (Arrow converts NULL floats to NaN, so their norm is
    NaN and fails `an > 0`) and Inf rows via the isfinite masks, but
    the JVM-side training paths (centroid explodes) would silently
    average the surviving components while DuckDB's list_sum skips
    NULLs — and DuckDB orders NaN above every value, so its `nrm > 0`
    would KEEP what the kernels drop. The oracles pin exclusion with a
    list_filter predicate over the same checks; the explode-based
    consumers filter with this helper to match. Since r11 the EXTREME-
    MAGNITUDE class (|x| > COMPONENT_BOUND — quantizes past BIGINT)
    joins NULL/NaN/Inf: same exclusion on every path, see
    COMPONENT_BOUND."""
    c = F.col(col) if isinstance(col, str) else col
    inf = F.lit(float("inf"))
    return F.exists(
        c,
        lambda x: x.isNull()
        | F.isnan(x)
        | (F.abs(x) == inf)
        | (F.abs(x) > F.lit(COMPONENT_BOUND)),
    )


def _ids_vectors(df: DataFrame, id_col: str, vec_col: str, dim: int | None = None) -> DataFrame:
    """The shared kernel input frame: (_id, _qv) with corrupt rows
    EXCLUDED — NULL vectors (a corrupt row has no position in vector
    space, np.stack cannot represent it, and the oracles' nrm > 0
    predicates skip it the same way: NULL is not > 0) and, when ``dim``
    is given, RAGGED vectors whose size differs from the operator's
    dimension (same corrupt class: a wrong-dimension vector has no
    defined cosine/distance against the operator's space, numpy's stack
    throws on it, and DuckDB's list_zip would silently truncate-pad —
    the oracles mirror the exclusion with an explicit len(embedding)
    predicate instead). Every Arrow vector kernel and build-side
    collect funnels through this, so the corrupt-row contract has
    exactly one implementation."""
    out = df.filter(F.col(vec_col).isNotNull())
    if dim is not None:
        out = out.filter(F.size(vec_col) == int(dim))
    return out.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_qv")
    )


def _stack_quantized(pdf, col: str = "_qv"):
    """Shared Arrow-kernel preamble: pandas column of float arrays →
    exact-quantized f64 matrix. Every vector kernel funnels through this
    so quantization/batch handling has exactly one implementation.

    Inputs are dimension-homogeneous BY CONTRACT (`_ids_vectors`
    excludes NULL and ragged rows before any kernel); the re-raise
    below names the contract instead of numpy's opaque shape error if
    an operator ever feeds an unfiltered frame."""
    try:
        return quantize_np(np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col]]))
    except ValueError as e:
        try:
            sizes = sorted({len(v) for v in pdf[col] if hasattr(v, "__len__")})
        except Exception:
            # the stack failure wasn't raggedness (non-sized / non-
            # numeric element) — re-raise the original, not a masked
            # secondary error from the diagnostic itself
            raise e
        raise ValueError(
            "mixed embedding dimensions reached a vector kernel "
            f"(sizes {sizes}): the operator must exclude ragged rows via "
            "_ids_vectors(dim=...) before stacking"
        ) from e


def _collect_quantized_build(df: DataFrame, id_col: str, vec_col: str, dim: int | None = None):
    """Collect + quantize a query batch: (ids, matrix, norms, valid).
    Raw floats cross the wire; quantization happens driver-side in numpy
    (same `quantize_np` the kernels use — a Row list's None components
    map to NaN there, so such a row is invalid exactly like on the
    Arrow side). An EMPTY side returns 0-length ids and a (0, 0) matrix
    — callers treat it as "no queries" and emit nothing, instead of
    np.stack crashing on an empty list. ``dim`` applies the
    `_ids_vectors` ragged-row exclusion."""
    rows = _ids_vectors(df, id_col, vec_col, dim=dim).collect()
    ids = np.array([r["_id"] for r in rows], dtype=np.int64)
    B = np.stack([quantize_np(r["_qv"]) for r in rows]) if rows else np.zeros((0, 0))
    return (ids, B, *_norms(B))


def ivf_topk(
    df: DataFrame,
    query_vec_quantized: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize by `cell_col` cell
    centroids, probe the `nprobe` cells whose centroid is most cosine-
    similar to the query, exact cosine only within probed cells.

    100 TB shape: the inverted-file scan prunes to nprobe/n_cells of the
    data (partition the table by cell for file-level pruning); the
    centroid ranking is a tiny aggregate + top-n — no driver-side k-means
    here because the fixtures carry a cell id, but any coarse quantizer
    slots in. Exact integer (quantized) arithmetic end-to-end keeps the
    result oracle-checkable — rare for an ANN operator.

    `query_vec_quantized` must already be 1e-6-quantized (quantize with
    `quantized()`/`quantize_np` so the rounding mode matches HALF_UP —
    Python's round() is half-to-even and would drift at .5 boundaries).

    Physical shape (fully LAZY — building the plan runs no jobs):
    (1) centroids via posexplode + per-scalar `round(x*1e6)` (a plain
    codegen expression, not an interpreted array HOF) and a two-level
    hash aggregate — exact integer sums, any combine order agrees with
    the oracle; (2) probe choice as a tiny top-nprobe over n_cells rows;
    (3) a broadcast left-semi join prunes to the probed cells
    (partition-prunable when the table is laid out by cell) and one
    Arrow cosine kernel ranks the candidates.

    Degenerate inputs (the `ivf_batch_probe` discipline): zero-norm
    centroids are never probed, zero-norm corpus vectors are excluded
    from the ranking, a zero-norm query returns an empty frame — no NaN
    ever reaches a comparison. Mirrored in the v05 oracle. RAGGED rows
    (size ≠ the query's dimension) are corrupt for this index: they can
    neither train a cell centroid nor be a candidate, so the ONE entry
    filter below excludes them from both subtrees (oracle:
    len(embedding) = len(q) in the ex and e CTEs).
    """
    qq_list = [float(x) for x in query_vec_quantized]
    # building the plan runs no job: a zero-norm query short-circuits in
    # `_scan_topk` before the probe ranking's JVM cosine could ever run
    # (it would raise DIVIDE_BY_ZERO under ANSI mode — the shingles-crash
    # hazard class, r7 commit 61a3a72)
    df = df.filter((F.size(vec_col) == len(qq_list)) & ~_has_corrupt_component(vec_col))
    ex = df.select(cell_col, F.posexplode(as_double(vec_col)).alias("dim", "x")).select(
        cell_col, "dim", F.round(F.col("x") * QUANT).alias("q")
    )
    centroids = (
        ex.groupBy(cell_col, "dim")
        .agg(F.round(F.avg("q")).alias("c"))
        .groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    # n_cells rows: the interpreted HOF cosine is fine at this cardinality.
    # Zero-norm centroids (undefined cosine) are never probe targets —
    # the ivf_batch_probe discipline, here as a pushed predicate.
    probed = (
        centroids.filter(dot(F.col("cv"), F.col("cv")) > 0)
        .select(cell_col, cosine(F.col("cv"), F.lit(qq_list)).alias("ccos"))
        .orderBy(F.desc("ccos"), cell_col)
        .limit(nprobe)
        .select(cell_col)
    )
    cand = df.join(F.broadcast(probed), cell_col, "left_semi").select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_qv")
    )
    return _scan_topk(cand, np.asarray(qq_list, dtype=np.float64), k, id_col)


_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("raw_cos", T.DoubleType()),
    ]
)


def _grid_pairs(
    q: DataFrame,
    m: int,
    k: int | None = None,
    tau: float | None = None,
) -> DataFrame:
    """All-pairs cosine over an unordered m×m block grid — the
    no-driver-collect physical strategy for exact pairwise ops.

    Each row hashes to a block `blk = xxhash64(id) mod m`; every
    unordered doc pair {x, y} lands in exactly ONE group, keyed by the
    unordered block pair {blk(x), blk(y)} — so groups partition the
    pair space with no duplicates and no misses. A row is fanned out to
    the m groups containing its block (explode over 0..m-1), then one
    Arrow `applyInPandas` kernel per group runs the quantized BLAS
    matmul (diagonal groups mask id_a < id_b; off-diagonal groups emit
    every cross pair, oriented min-id first).

    Per group the kernel keeps only the local top-`k` pairs (exact
    final comparator) and/or the pairs with cos ≥ `tau`, so output is
    k·m(m+1)/2 rows worst-case, not O(n²). Shuffle cost is m× the
    vector data — the inherent price of exact all-pairs without a
    broadcastable side; beyond that, use the LSH/IVF candidate paths.
    """
    fan = (
        q.withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(m)).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        .withColumn("_lo", F.least("_blk", "_other"))
        .withColumn("_hi", F.greatest("_blk", "_other"))
    )
    kk = None if k is None else int(k)
    tt = None if tau is None else float(tau)

    def kernel(key, pdf):
        lo, hi = int(key[0]), int(key[1])
        if lo == hi:
            ida, idb, cos = _block_pairs(pdf, pdf["_id"].to_numpy(dtype=np.int64), tt)
        else:
            pa = pdf[pdf["_blk"] == lo]
            pb = pdf[pdf["_blk"] == hi]
            if not len(pa) or not len(pb):
                return pd.DataFrame()
            A, B = _stack_quantized(pa), _stack_quantized(pb)
            an, va = _norms(A)
            bn, vb = _norms(B)
            S = _cos_block(A, an, va, B, bn, vb)
            keep = va[:, None] & vb[None, :]
            if tt is not None:
                keep &= S >= tt
            ai, bi = np.nonzero(keep)
            xa = pa["_id"].to_numpy(dtype=np.int64)[ai]
            xb = pb["_id"].to_numpy(dtype=np.int64)[bi]
            ida, idb, cos = np.minimum(xa, xb), np.maximum(xa, xb), S[ai, bi]
        if kk is not None and len(cos) > kk:
            order = np.lexsort((idb, ida, -cos))[:kk]
            ida, idb, cos = ida[order], idb[order], cos[order]
        return pd.DataFrame({"id_a": ida, "id_b": idb, "raw_cos": cos})

    return fan.groupBy("_lo", "_hi").applyInPandas(kernel, schema=_PAIRS_SCHEMA)


def _grid_size(df: DataFrame, block_rows: int = 256, max_blocks: int = 64) -> int:
    """Pick the block-grid size from the table's row COUNT (a scalar
    aggregate — no vector data reaches the driver). `block_rows` sized
    so a group (two blocks) is a comfortable Arrow batch; `max_blocks`
    caps the fan-out replication factor."""
    n = df.count()
    return max(1, min(max_blocks, -(-n // block_rows)))


def top_similar_pairs(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid_blocks: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Exact global top-k most-similar pairs by quantized-integer cosine.

    Physical strategy: unordered block-pair grid (`_grid_pairs`) — every
    pair is scored by a BLAS matmul in exactly one `applyInPandas`
    group, each group emits only its local top-k under the exact final
    comparator (-cos, id_a, id_b), and the plan takes the global top-k
    of ≤ k·m(m+1)/2 rows. NO driver-side collect of vectors and no
    broadcast build: memory per task is two blocks, so n is unbounded.
    (An earlier all-pairs join with per-pair array folds ran ~25×
    slower at sf0.1.)

    Exact all-pairs is O(n²) work no matter the engine — at data sizes
    where that's unpayable, switch to the LSH/IVF candidate paths.

    Corrupt rows are excluded (`_ids_vectors`): NULL vectors, and
    ragged rows whose size differs from the corpus dimension — ``dim``
    when given, else the modal size (`_dim_of`; the oracles' modal-len
    CTE) — since a cross-dimension pair has no defined cosine.
    """
    q = _ids_vectors(df, id_col, vec_col, dim=dim or _dim_of(df, vec_col))
    m = grid_blocks if grid_blocks is not None else _grid_size(df)
    top = _grid_pairs(q, m, k=int(k))
    return top.orderBy(F.desc("raw_cos"), "id_a", "id_b").limit(k)


def neardup_map(
    df: DataFrame,
    threshold: float = 0.44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: (dup_id, kept_id, cos) survivor map.

    Rule (single-pass, deterministic, SQL-expressible): a row is a
    duplicate iff ANY smaller-id row has cosine >= threshold; its
    survivor is the SMALLEST such id. This is the one-sweep variant of
    near-dup dedup — the transitive (connected-components) variant lives
    in operators/minhash.py; both keep min-id representatives.

    Physical strategy mirrors `top_similar_pairs`: unordered block-pair
    grid (`_grid_pairs`) scoring every pair in exactly one Arrow BLAS
    group — no driver collect, no broadcast build, n unbounded — but
    emitting only pairs above threshold, so output is |near-dup pairs|,
    not O(n²). The per-row min reduction is a map-side-combinable
    groupBy. For candidate pruning beyond the exact grid, RP-bucket
    blocking (`random_hyperplanes` codes as join key) runs the same
    kernel per bucket.

    Corrupt rows are excluded (`_ids_vectors`): NULL vectors, and
    ragged rows off the corpus's modal dimension (`_dim_of`; the
    oracle's modal-len CTE) — a cross-dimension pair has no defined
    cosine.
    """
    q = _ids_vectors(df, id_col, vec_col, dim=_dim_of(df, vec_col))
    pairs = _grid_pairs(q, _grid_size(df), tau=float(threshold))
    kept = pairs.groupBy("id_b").agg(F.min(F.struct("id_a", "raw_cos")).alias("m"))
    return kept.select(
        F.col("id_b").alias("dup_id"), F.col("m.id_a").alias("kept_id"), _cos_out("m.raw_cos")
    ).orderBy("dup_id")


def neardup_pairs_lsh_banded(
    df: DataFrame,
    threshold: float = 0.44,
    n_bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 4242,
) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH blocking + exact
    verify — the 100 TB candidate-pruned escape from `neardup_map`'s
    exact all-pairs grid (same relationship t09 has to t07 for text).

    Each vector gets `n_bits` sign bits from seeded quantized
    hyperplanes (exact integer dots — engine-portable), split into
    `bands` band codes; vectors sharing ANY band code become a candidate
    pair, verified by exact quantized cosine ≥ threshold inside one
    Arrow kernel per (band, code) bucket. Only bucket-mates are ever
    compared: work is Σ|bucket|², not n².

    Recall economics (honest, and mirrored 1:1 by the SQL oracle): with
    per-bit agreement p = 1 - θ/π, a pair survives banding with
    1-(1-p^(bits/band))^bands — ≈99% for true duplicates (cos ≥ 0.95),
    ~50-60% in the borderline 0.44-0.5 region these random fixtures
    occupy. For exhaustive borderline-pair discovery use `neardup_map`;
    this operator is the high-similarity scale path, and more/narrower
    bands buy recall with candidate volume.
    """
    if n_bits % bands:
        raise ValueError("n_bits must be divisible by bands")
    rpb = n_bits // bands
    P = np.array(random_hyperplanes(n_bits, _dim_of(df, vec_col), seed), dtype=np.float64)
    tau = float(threshold)
    fan = _band_code_fan(df, P, bands, rpb, id_col, vec_col)

    def pair_kernel(key, pdf):
        ida, idb, cos = _block_pairs(pdf, pdf[id_col].to_numpy(dtype=np.int64), tau)
        return pd.DataFrame({"id_a": ida, "id_b": idb, "raw_cos": cos})

    pairs = fan.groupBy("_band", "_code").applyInPandas(pair_kernel, schema=_PAIRS_SCHEMA)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.first("raw_cos").alias("raw_cos"))  # same exact value from every band
        .select("id_a", "id_b", _cos_out("raw_cos"))
        .orderBy("id_a", "id_b")
    )


def _dim_of(df: DataFrame, vec_col: str) -> int:
    """Corpus dimensionality: the MODAL size(vec_col) among non-NULL
    rows, ties → smallest (a scalar aggregate collect, the v01 idiom —
    no vector data reaches the driver). Modal, not first-row: under the
    ragged-row corruption class a first-row lookup is partition-order-
    dependent and one corrupt row could define the whole corpus's
    dimension; the majority dimension is deterministic and is what the
    oracles' modal-len CTE restates. Operators that know their
    dimension statically (production deployments declare it) pass it
    via their ``dim`` parameter and skip this pass. Empty input → 1:
    the hyperplanes generated from it are never dotted with any row, so
    any positive dim yields the correct empty result (the
    zero-row-table sweep's defined behavior)."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("_d"))
        .count()
        .orderBy(F.desc("count"), F.asc("_d"))
        .first()
    )
    return int(row["_d"]) if row is not None and row["_d"] is not None and row["_d"] > 0 else 1


def random_hyperplanes(n_bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Seeded quantized random hyperplanes (integer-valued doubles).

    Generated once at plan-build time and inlined as literals into both
    the Spark plan and the oracle SQL, so sign-bit computation is exact
    integer arithmetic in both engines — which is what lets a
    random-projection LSH be oracle-checked at all.
    """
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_bits, dim))
    return [[float(int(v)) for v in np.rint(row * QUANT)] for row in h]


def ann_topk_rp(
    df: DataFrame,
    query_vec_quantized: list[float],
    k: int = 10,
    n_bits: int = 8,
    probe_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via sign-random-projection buckets + multiprobe.

    Index shape at 100 TB: each vector carries an `n_bits` bucket code
    (map-only to compute, storable as a partition/cluster key); a query
    scans only buckets within `probe_hamming` of its own code —
    (Σ_{i≤r} C(n_bits,i)) / 2^n_bits of the data (~14% for 8 bits, r=2)
    — then ranks candidates by exact quantized cosine. Deterministic:
    seeded hyperplanes, exact integer dots (BLAS f64 over integers, see
    `quantized`), no pyspark.ml RNG. Codes + cosine run in one Arrow
    kernel (map-only, no shuffle); only the ≤k survivors per partition
    feed TakeOrderedAndProject.

    Degenerate inputs (the `ivf_batch_probe` discipline): zero-norm
    corpus vectors are excluded from the ranking (a zero vector's sign
    code is all-ones, so it CAN pass the hamming mask — the valid mask
    drops it before the cosine); a zero-norm query returns an empty
    frame. Mirrored in the v06 oracle's `nrm > 0` predicate. Ragged
    corpus rows (size ≠ the query's dimension) are excluded with the
    NULL rows (`_ids_vectors` dim filter — a wrong-dimension vector can
    neither take a sign code against the planes nor a cosine against q).
    """
    P = np.array(random_hyperplanes(n_bits, len(query_vec_quantized), seed), dtype=np.float64)
    qq = np.asarray(query_vec_quantized, dtype=np.float64)
    q_bits = (P @ qq) >= 0  # exact: integer products < 2^53
    r = int(probe_hamming)

    def in_probed_buckets(A):
        return (((A @ P.T) >= 0) != q_bits[None, :]).sum(axis=1) <= r

    frame = _ids_vectors(df, id_col, vec_col, dim=len(qq))
    return _scan_topk(frame, qq, k, id_col, row_mask=in_probed_buckets)


def ann_topk_e2lsh(
    df: DataFrame,
    query_vec_quantized: list[float],
    k: int = 10,
    n_tables: int = 4,
    rows_per_table: int = 2,
    bucket_width: float = 1.0e12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 777,
) -> DataFrame:
    """Approximate euclidean top-k via classic E2LSH bucket tables —
    the oracle-CHECKABLE replacement for pyspark.ml's
    BucketedRandomProjectionLSH, same hash-family idea (Datar et al.
    p-stable LSH) but deterministic and exact in both engines:

    - `n_tables` tables of `rows_per_table` seeded quantized projections
      (`random_hyperplanes` — integer-valued, inlined as literals into
      the oracle SQL);
    - bucket = floor(dot(v, w) / bucket_width): the dot is EXACT integer
      arithmetic in float64 (see `quantized`), the divide is one
      correctly-rounded IEEE op on identical inputs — so bucket ids are
      bit-identical across numpy, the JVM and DuckDB;
    - candidate iff ALL buckets of some table match the query's (AND
      within a table, OR across tables — the standard amplification);
    - candidates ranked by exact squared euclidean distance over the
      quantized components (integer sums < 2^53 — exact any order).

    100 TB shape: codes are map-only and storable as cluster keys; a
    query scans only its matching buckets (~1/4 of this fixture set at
    the default geometry, tunable via bucket_width); one Arrow kernel
    computes codes + distances, and only ≤k survivors per partition feed
    TakeOrderedAndProject.
    """
    dim = len(query_vec_quantized)
    P = np.array(
        random_hyperplanes(n_tables * rows_per_table, dim, seed), dtype=np.float64
    )
    qq = np.asarray(query_vec_quantized, dtype=np.float64)
    W = float(bucket_width)
    q_buckets = np.floor((P @ qq) / W)
    bc = df.sparkSession.sparkContext.broadcast(
        (P, qq, q_buckets, W, int(n_tables), int(rows_per_table))
    )

    def kernel(batches):
        Pm, q, qb, w, L, g = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            B = np.floor((A @ Pm.T) / w)
            match = np.zeros(len(A), dtype=bool)
            for t in range(L):
                sl = slice(t * g, (t + 1) * g)
                match |= (B[:, sl] == qb[sl][None, :]).all(axis=1)
            if not match.any():
                continue
            Am = A[match]
            s2 = ((Am - q) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf["_id"].to_numpy(dtype=np.int64)[match], "_s2": s2}
            )

    out = _ids_vectors(df, id_col, vec_col, dim=dim).mapInPandas(
        kernel,
        schema=T.StructType(
            [T.StructField(id_col, T.LongType()), T.StructField("_s2", T.DoubleType())]
        ),
    )
    return (
        out.orderBy(F.asc("_s2"), F.asc(id_col))
        .limit(k)
        .select(id_col, (F.round(F.sqrt("_s2")) / QUANT).alias("dist"))
    )


def sq8_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 50,
    scale: float = 400.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization (int8) scan + exact rerank — SQ8, the standard
    vector-store compression path: score every row with an int8 dot
    product against the int8-quantized query, keep `n_candidates` by
    (int8 score desc, id), rerank those by exact 1e-6-quantized cosine
    and return top `k`.

    Why it matters at 100 TB: int8 codes are 4× smaller than float32
    (scan 25 TB instead of 100), and the integer dot is the SIMD fast
    path; only `n_candidates` rows ever touch full-precision floats.
    Both scoring stages are exact integer arithmetic in float64, and the
    candidate cut + rerank use deterministic tie-breaks — so the whole
    two-stage result is reproduced bit-for-bit by the DuckDB oracle.

    Plan: scan → Arrow int8-score kernel (per-batch candidate prune) →
    TakeOrderedAndProject(n_candidates) → TakeOrderedAndProject(k).

    Degenerate inputs (the `_norms` valid mask): zero-norm and corrupt
    corpus vectors — NULL/NaN/Inf components, and |x| > COMPONENT_BOUND
    ones, which `quantize_np` maps to NaN — are excluded BEFORE the int8
    candidate cut (their rerank cosine is undefined — dropping them
    later would let them crowd real candidates out of the n_candidates
    window, and a saturated int8 code would score a 1e30 row like a
    real one); a zero-norm query returns an empty frame. Mirrored in
    the v10 oracle's `nrm > 0` and abs(x) > 1e12 predicates.
    """

    def q8(m):
        # round-half-away (matches Spark ROUND / DuckDB round), then
        # saturate to the int8 code range
        return np.clip(np.copysign(np.floor(np.abs(m * scale) + 0.5), m), -127.0, 127.0)

    qv = np.asarray(
        [np.nan if x is None else float(x) for x in query_vec], dtype=np.float64
    )
    qq = quantize_np(qv)
    qn, qok = _norms(qq[None, :])
    if not qok[0]:
        # zero-norm (or NULL/NaN-component) query: driver-side
        # short-circuit (no corpus scan)
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, score_i8 long, cos double"
        )
    bc = df.sparkSession.sparkContext.broadcast((q8(qv), qq, float(qn[0])))

    def kernel(batches):
        q8v, qqv, qnorm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_qv"]])
            Mq = quantize_np(M)
            # invalid rows leave BEFORE the candidate cut — an undefined
            # rerank cosine must not crowd out real candidates
            an, valid = _norms(Mq)
            if not valid.any():
                continue
            M, Mq, an = M[valid], Mq[valid], an[valid]
            ids = pdf["_id"].to_numpy(dtype=np.int64)[valid]
            s8 = q8(M) @ q8v
            # per-batch candidate prune: the union of per-batch top-N by
            # (s8 desc, id asc) always contains the global top-N
            order = np.lexsort((ids, -s8))[:n_candidates]
            yield pd.DataFrame(
                {
                    id_col: ids[order],
                    "score_i8": s8[order].astype(np.int64),
                    "_raw": (Mq[order] @ qqv) / (an[order] * qnorm),
                }
            )

    out = _ids_vectors(df, id_col, vec_col, dim=len(qq)).mapInPandas(kernel, schema=f"{id_col} long, score_i8 long, _raw double")
    cand = out.orderBy(F.desc("score_i8"), F.asc(id_col)).limit(n_candidates)
    return cand.orderBy(F.desc("_raw"), F.asc(id_col)).limit(k).select(id_col, "score_i8", _cos_out("_raw"))


def semdedup_map(
    df: DataFrame,
    threshold: float = 0.44,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic dedup (the Abbas et al. 2023 shape):
    cluster every vector to its nearest seed centroid, then flag
    within-cluster pairs with cosine >= threshold, keeping the lowest
    id — the embedding-space analog of the lexical MinHash banding
    (operators/minhash.py): clustering bounds pair work at
    Σ|cluster|², never n².

    Determinism/oracle-checkability: the seed centroids are the exact
    integer per-label component means (the v03 machinery — no k-means
    RNG), assignment ranks 1e-6-quantized cosines (BIGINT compare,
    ties → lowest label), and pair verification is the exact quantized
    cosine — every step reproduces bit-for-bit in DuckDB.

    Physical plan: one linear explode→aggregate builds the (labels ×
    dims) centroid table, collected driver-side (aggregate-sized, the
    v01 1-row-scalar idiom scaled to ~hundreds of rows — NOT a data
    collect); one Arrow map assigns clusters (no shuffle); ONE shuffle
    on cluster feeds the per-cluster BLAS pair kernel; a
    map-side-combinable groupBy reduces pairs to the survivor map.

    Returns (dup_id, kept_id, cluster, cos) ordered by dup_id — the
    same survivor-map contract as `neardup_map`, so every flagged
    dup here is (by construction) also a `neardup_map` dup at the
    same threshold.

    Degenerate inputs are DEFINED, not accidental: a NULL label raises
    (clustering over an unlabeled row has no meaning here — filter or
    impute first), a zero-norm vector — whose cosine is undefined —
    is assigned deterministically to the lowest label and never pairs,
    and corrupt vectors (NULL, or ragged off the corpus's modal
    dimension — `_dim_of`, mirrored by the oracle's modal-len CTE) are
    excluded from the dedup entirely: they can neither shift a seed
    centroid nor take an assignment.
    """
    tau = float(threshold)
    df = df.filter(
        (F.size(vec_col) == _dim_of(df, vec_col)) & ~_has_corrupt_component(vec_col)
    )
    # exact-integer seed centroids (v03 idiom): explode → per-(label, dim)
    # round(avg(quantized)) — order-independent, engine-identical
    ex = df.select(
        F.col(label_col).cast("long").alias("_lab"),
        F.posexplode(as_double(vec_col)).alias("dim", "x"),
    ).select("_lab", "dim", F.round(F.col("x") * QUANT).cast("bigint").alias("q"))
    cent_rows = (
        ex.groupBy("_lab", "dim").agg(F.round(F.avg("q")).alias("c")).collect()
    )
    if not cent_rows:
        # empty corpus: no clusters, no pairs — deterministic empty
        # survivor map in the operator's output schema
        return df.sparkSession.createDataFrame(
            [], "dup_id long, kept_id long, cluster long, cos double"
        )
    if any(r["_lab"] is None for r in cent_rows):
        raise ValueError(
            "semdedup_map: NULL labels are undefined — filter or impute the "
            f"label column ({label_col!r}) before clustering"
        )
    labels = sorted({r["_lab"] for r in cent_rows})
    dim = 1 + max(r["dim"] for r in cent_rows)
    lab_pos = {lab: i for i, lab in enumerate(labels)}
    C = np.zeros((len(labels), dim), dtype=np.float64)
    for r in cent_rows:
        C[lab_pos[r["_lab"]], r["dim"]] = float(r["c"])
    bc = df.sparkSession.sparkContext.broadcast((np.asarray(labels, dtype=np.int64), C, *_norms(C)))

    def assign_kernel(batches):
        L, Cm, cn, cv = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            # a zero-norm VECTOR scores -inf everywhere and so lands on
            # the lowest label; a zero-norm CENTROID is nobody's nearest
            Sq = _centroid_scores(A, *_norms(A), Cm, cn, cv)
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    "cluster": L[Sq.argmax(axis=1)],
                    "_qv": pdf["_qv"],
                }
            )

    assigned = _ids_vectors(df, id_col, vec_col).mapInPandas(
        assign_kernel,
        schema=T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("cluster", T.LongType()),
                T.StructField("_qv", df.schema[vec_col].dataType),
            ]
        ),
    )

    pair_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("raw_cos", T.DoubleType()),
        ]
    )

    def pair_kernel(key, pdf):
        ida, idb, cos = _block_pairs(pdf, pdf[id_col].to_numpy(dtype=np.int64), tau)
        return pd.DataFrame({"id_a": ida, "id_b": idb, "cluster": int(key[0]), "raw_cos": cos})

    pairs = assigned.groupBy("cluster").applyInPandas(pair_kernel, schema=pair_schema)
    kept = pairs.groupBy("id_b").agg(
        F.min(F.struct("id_a", "raw_cos")).alias("m"), F.min("cluster").alias("cluster")
    )
    return kept.select(
        F.col("id_b").alias("dup_id"), F.col("m.id_a").alias("kept_id"), "cluster", _cos_out("m.raw_cos")
    ).orderBy("dup_id")


def _band_code_fan(
    df: DataFrame, P, bands: int, rpb: int, id_col: str, vec_col: str
) -> DataFrame:
    """Map-only Arrow fan-out shared by the banded near-dup operators:
    one (_band, _code, id, _qv) row per (vector, band), codes computed
    as packed sign bits of exact integer dots against the seeded
    quantized hyperplanes — no shuffle happens here. Rows whose size
    differs from the planes' dimension are corrupt for this code space
    and are excluded with the NULL rows (`_ids_vectors` dim filter)."""
    bc = df.sparkSession.sparkContext.broadcast((P, int(bands), int(rpb)))

    def code_kernel(batches):
        Pm, L, g = bc.value
        w = (2 ** np.arange(g)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            bits = ((A @ Pm.T) >= 0).astype(np.int64)
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            out = []
            for b in range(L):
                code = bits[:, b * g : (b + 1) * g] @ w
                out.append(
                    pd.DataFrame({"_band": b, "_code": code, id_col: ids, "_qv": pdf["_qv"]})
                )
            yield pd.concat(out, ignore_index=True)

    fan_schema = T.StructType(
        [
            T.StructField("_band", T.IntegerType()),
            T.StructField("_code", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("_qv", df.schema[vec_col].dataType),
        ]
    )
    return _ids_vectors(df, id_col, vec_col, dim=int(P.shape[1])).mapInPandas(code_kernel, schema=fan_schema)


def neardup_vector_index_probe(
    corpus: DataFrame,
    snapshot: DataFrame,
    threshold: float = 0.44,
    n_bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 4242,
    dim: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: probe the corpus's PERSISTED
    band-code index with a freshly-ingested snapshot — the embedding
    twin of the text-side `operators/minhash.py incremental_neardup_flags`
    (t20): a continuously-fed corpus screens each new batch of vectors
    against what it already holds instead of re-running near-dup over
    the union.

    The corpus fan (band codes + vectors) is persisted inside — the
    in-session stand-in for the stored index; on a real feed it arrives
    prebuilt. Candidates are (snapshot × corpus) bucket-mates under the
    banded sign-LSH (same geometry/recall economics as
    `neardup_pairs_lsh_banded`), verified by exact quantized cosine in
    one Arrow kernel per bucket — work ∝ snapshot + collision buckets,
    never snapshot × corpus.

    Returns one row per snapshot vector: ``(id_col, is_dup, dup_src,
    cos)`` — dup_src = the SMALLEST matching corpus id (deterministic),
    cos its exact quantized cosine, both NULL when no corpus near-dup.

    ``dim`` pins the code-space dimension (corrupt-row exclusion rides
    on it); when absent it is inferred as the corpus's modal length
    (`_dim_of` — one tiny driver aggregate, the oracles' modal-len CTE).
    """
    if n_bits % bands:
        raise ValueError("n_bits must be divisible by bands")
    rpb = n_bits // bands
    d = dim if dim is not None else _dim_of(corpus, vec_col)
    P = np.array(random_hyperplanes(n_bits, d, seed), dtype=np.float64)
    fan_c = _band_code_fan(corpus, P, bands, rpb, id_col, vec_col).persist()
    return probe_band_index(fan_c, snapshot, P, bands, rpb, threshold, id_col, vec_col)


def probe_band_index(
    corpus_fan: DataFrame,
    snapshot: DataFrame,
    P,
    bands: int,
    rpb: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounded_snapshot: bool = False,
) -> DataFrame:
    """Probe an ALREADY-BUILT corpus band-code fan (in-session persisted,
    or loaded from a stored index — `streaming/vectors.py` maintains one
    on disk) with a snapshot batch. Split out of
    `neardup_vector_index_probe` so a continuously-fed index pays the
    corpus fan exactly once per corpus row, ever.

    ``bounded_snapshot=True`` (the streaming drain, whose batch is
    maxFilesPerTrigger-bounded) is the vector twin of the text probe's
    r12 bounded strategy: the plain plan UNIONS the whole stored fan
    with the batch fan and SHUFFLES it into the per-bucket kernel —
    index-sized exchange per micro-batch (~6 s against 512 k vectors at
    x256 for a 2 k-vec batch). Bounded mode collects the batch's
    (band, code) set via a LIMIT-bounded collect (≤ 50 001 rows to the
    driver; a batch of B vectors fans to exactly B×bands codes), then:
    empty → map-only all-false short-circuit; complete → the stored fan
    is broadcast-SEMI-JOINED down to matching buckets before the union,
    so the kernel shuffle carries collision buckets, never the index
    (the stored-fan scan itself remains, ∝ index — foldable, same
    residual as the text side); truncated → the plain plan.
    """
    tau = float(threshold)
    snap_fan = _band_code_fan(snapshot, P, bands, rpb, id_col, vec_col)
    if bounded_snapshot:
        spark = corpus_fan.sparkSession
        codes = snap_fan.select("_band", "_code").distinct().limit(50_001).collect()
        if not codes:
            return snapshot.select(
                F.col(id_col).cast("long").alias(id_col),
                F.lit(False).alias("is_dup"),
                F.lit(None).cast("long").alias("dup_src"),
                F.lit(None).cast("double").alias("cos"),
            ).orderBy(id_col)
        if len(codes) <= 50_000:  # the limit returned the COMPLETE set
            code_df = spark.createDataFrame(
                codes, snap_fan.select("_band", "_code").schema
            )
            corpus_fan = corpus_fan.join(
                F.broadcast(code_df), ["_band", "_code"], "leftsemi"
            )
    fan = corpus_fan.withColumn("_side", F.lit(0)).unionByName(
        snap_fan.withColumn("_side", F.lit(1))
    )

    probe_schema = T.StructType(
        [
            T.StructField("snap_id", T.LongType()),
            T.StructField("corp_id", T.LongType()),
            T.StructField("raw_cos", T.DoubleType()),
        ]
    )

    def probe_kernel(key, pdf):
        corp = pdf[pdf["_side"] == 0]
        snap = pdf[pdf["_side"] == 1]
        if not len(corp) or not len(snap):
            return pd.DataFrame()
        A = _stack_quantized(corp)  # corpus bucket
        B = _stack_quantized(snap)  # snapshot bucket
        an, va = _norms(A)
        bn, vb = _norms(B)
        S = _cos_block(B, bn, vb, A, an, va)
        bi, ai = np.nonzero((S >= tau) & vb[:, None] & va[None, :])
        return pd.DataFrame(
            {
                "snap_id": snap[id_col].to_numpy(dtype=np.int64)[bi],
                "corp_id": corp[id_col].to_numpy(dtype=np.int64)[ai],
                "raw_cos": S[bi, ai],
            }
        )

    pairs = fan.groupBy("_band", "_code").applyInPandas(probe_kernel, schema=probe_schema)
    best = pairs.groupBy("snap_id").agg(F.min(F.struct("corp_id", "raw_cos")).alias("m"))
    return (
        snapshot.select(F.col(id_col).cast("long").alias(id_col))
        .join(best, F.col(id_col) == F.col("snap_id"), "left")
        .select(
            id_col,
            F.col("m").isNotNull().alias("is_dup"),
            F.col("m.corp_id").alias("dup_src"),
            _cos_out("m.raw_cos"),
        )
        .orderBy(id_col)
    )


def batch_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors — the
    many-queries retrieval shape (eval sets, dedup probes, recommender
    refreshes) the single-vector `knn_bruteforce` doesn't cover.

    The query batch is collected + broadcast (bounded: it is a batch,
    not a corpus — the Q×dim matrix rides the same driver path as v01's
    single vector); one Arrow kernel scores every corpus split against
    ALL queries in a single BLAS matmul and emits only each query's
    per-split top-k (deterministic tie-break: cosine desc, id asc —
    per-column lexsort, so boundary ties at the k-th place can never
    drop the id-ordered winner); the global per-query rank is a
    WindowGroupLimit-pruned row_number. Shuffle volume ≤ splits·k·Q
    rows, never the corpus.

    Degenerate inputs (the `ivf_batch_probe` discipline): zero-norm
    corpus vectors are excluded from every ranking; a zero-norm QUERY
    emits no neighbor rows (its qid is simply absent from the result).
    No NaN ever reaches a comparison. Mirrored in the v13 oracle's
    `nrm > 0` predicates. Ragged rows — size off the corpus dimension
    (``dim`` when given, else modal via `_dim_of`) — are corrupt on
    EITHER side: a ragged corpus row is excluded from every ranking, a
    ragged query emits no neighbor rows (absent qid, like zero-norm).
    Mirrored by the oracle's modal-len CTE.
    """
    d = dim or _dim_of(corpus, vec_col)
    qids, Q, qn, qv = _collect_quantized_build(queries, qid_col, vec_col, dim=d)
    if not qv.any():
        # empty batch, or every query zero-norm: no ranking exists —
        # driver-side short-circuit, never a corpus scan for nothing
        return corpus.sparkSession.createDataFrame(
            [], f"{qid_col} long, {id_col} long, rk int, cos double"
        )
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn, qv, int(k)))

    def kernel(batches):
        qi, Qm, qnorm, qvalid, kk = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            an, cvalid = _norms(A)
            if not cvalid.any():
                continue
            A, an = A[cvalid], an[cvalid]
            ids = pdf["_id"].to_numpy(dtype=np.int64)[cvalid]
            S = _cos_block(A, an, cvalid[cvalid], Qm, qnorm, qvalid)
            # zero-norm queries have no defined neighbors: skipped
            orders = [(j, np.lexsort((ids, -S[:, j]))[:kk]) for j in np.flatnonzero(qvalid)]
            yield pd.DataFrame(
                {
                    qid_col: np.concatenate([np.full(len(o), qi[j], dtype=np.int64) for j, o in orders]),
                    id_col: np.concatenate([ids[o] for _, o in orders]),
                    "_raw": np.concatenate([S[o, j] for j, o in orders]),
                }
            )

    out = _ids_vectors(corpus, id_col, vec_col, dim=d).mapInPandas(kernel, schema=f"{qid_col} long, {id_col} long, _raw double")
    return _rank_per_query(out, k, qid_col, id_col)


def _collect_centroid_matrix(centroids: DataFrame):
    """Collect a centroid table (cells × dims: aggregate-sized) into
    ``(cells, C, cn, valid)`` with rows SORTED BY CELL ID ascending —
    the shared prologue of `assign_cells` and `ivf_batch_probe`, whose
    `_centroid_scores` ties-to-lowest-cell rule relies on that order. The
    `cv` arrays are already exact 1e-6 integers (`ivf_centroids`); no
    re-quantization happens here. An EMPTY centroid table (a quantizer
    built from an empty corpus) returns 0-length cells and a (0, 0)
    matrix — probes then probe nothing and assigns quarantine everything
    to -1, instead of numpy crashing on a dimensionless array."""
    rows = sorted(centroids.collect(), key=lambda r: r[0])
    cells = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.array([[float(x) for x in r[1]] for r in rows]) if rows else np.zeros((0, 0))
    return (cells, C, *_norms(C))


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """The IVF coarse quantizer as a frame: one row per cell with the
    exact-integer quantized centroid array (round(avg(round(x*1e6)))
    per dim — the v03/v05 quantizer, no k-means RNG). Cells × dims:
    aggregate-sized. Unpersisted builder shared by `ivf_index_build`
    (in-session index) and the streaming ingest's frozen-centroid
    write (streaming/ivf.py). Unlike v03's centroid REPORT (which
    surfaces a NULL-label centroid as just another group), the
    quantizer excludes NULL labels — an INDEX cell needs an id."""
    # corrupt rows cannot train the quantizer: a NULL cell id is not a
    # cell (driver-side int(cell) would crash), a NULL vector has no
    # position, and a RAGGED vector (size off the corpus dimension —
    # ``dim`` when given, else modal via _dim_of) would lengthen its
    # cell's centroid array and break every probe matmul — all excluded,
    # mirrored by the oracles' label IS NOT NULL / modal-len predicates
    d = dim or _dim_of(corpus, vec_col)
    corpus = corpus.filter(
        F.col(cell_col).isNotNull()
        & (F.size(vec_col) == d)
        & ~_has_corrupt_component(vec_col)
    )
    ex = corpus.select(cell_col, F.posexplode(as_double(vec_col)).alias("dim", "x")).select(
        cell_col, "dim", F.round(F.col("x") * QUANT).alias("q")
    )
    return (
        ex.groupBy(cell_col, "dim")
        .agg(F.round(F.avg("q")).alias("c"))
        .groupBy(cell_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )


def ivf_index_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build and PERSIST the IVF retrieval index state — the in-session
    stand-in for a stored vector index (the v12/t20 persisted-state
    discipline, applied to SEARCH instead of dedup):

    - ``centroids``: one row per cell with the exact-integer quantized
      centroid array (round(avg(round(x*1e6))) per dim — the v03/v05
      coarse quantizer, no k-means RNG). Cells × dims: aggregate-sized.
    - ``postings``: the corpus re-keyed by cell — (cell, id, vector),
      what a stored IVF index materializes as posting lists. Probes
      scan ONLY the buckets they hit, via a broadcast join on cell.

    Built once per corpus snapshot, probed by every query batch until
    the next index refresh — the amortization a vector store lives on.
    """
    d = dim or _dim_of(corpus, vec_col)
    centroids = ivf_centroids(corpus, vec_col, cell_col, dim=d).persist()
    # same corrupt-row contract as the quantizer: a posting needs a
    # cell and an index-dimension vector (a probe could never score a
    # NULL or ragged one)
    postings = (
        corpus.filter(
            F.col(cell_col).isNotNull()
            & (F.size(vec_col) == d)
            & ~_has_corrupt_component(vec_col)
        )
        .select(
            F.col(cell_col).cast("long").alias("_cell"),
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).alias("_qv"),
        )
        .persist()
    )
    return centroids, postings


def ivf_batch_probe(
    centroids: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index (`ivf_index_build`) with a BATCH of
    query vectors: per query, rank cells by quantized centroid cosine
    (1e-6 BIGINT compare, ties → lowest cell — deterministic), take the
    ``nprobe`` nearest, score exact quantized cosine ONLY against those
    cells' postings, return each query's global top-k.

    This completes the incremental/persisted-state story for retrieval
    the way v12 did for dedup: the index is built once, every query
    batch pays Σ(probed-bucket sizes), never the corpus.

    Physical shape: the centroid table and the query batch are both
    aggregate-sized driver collects (v11/v13 idiom); the (qid, cell)
    probe-pair frame (Q·nprobe rows) broadcast-joins the persisted
    postings — bucket pruning, no corpus shuffle; ONE Arrow kernel
    scores candidates against their probing query; WindowGroupLimit
    prunes the per-query rank. Work ∝ candidates, shuffle ≤ candidates.
    """
    cells, C, cn, cv = _collect_centroid_matrix(centroids)
    # queries off the INDEX dimension (free to know: the collected
    # centroid matrix carries it) are corrupt for this index — excluded
    # like NULL queries, their qids absent from the result
    qids, Q, qn, qv = _collect_quantized_build(
        queries, qid_col, vec_col, dim=C.shape[1] if len(cells) else None
    )
    if len(qids) == 0 or len(cells) == 0:
        # empty query batch, or an index with zero cells: nothing can be
        # probed — deterministic empty result, no degenerate matmul
        pairs = []
    else:
        # a zero-norm CENTROID is never anyone's probe target; a
        # zero-norm QUERY probes the lowest cells deterministically and
        # its candidate rows are then dropped by the kernel — no NaN
        # anywhere; lexsort ties break to the lowest cell id
        Sq = _centroid_scores(Q, qn, qv, C, cn, cv)
        pairs = [
            (int(i), int(qids[i]), int(cells[j]))
            for i in range(len(qids))
            for j in np.lexsort((cells, -Sq[i]))[: int(nprobe)]
        ]
    spark = postings.sparkSession
    # the probe pair carries the query ROW position, not just its id: a
    # qid-keyed dict would silently last-win a DUPLICATED qid (the r10
    # duplicate-id class) and score candidates against the wrong vector
    # in a collect-order-dependent way. Per-row probing + the final
    # per-qid rank = deterministic union semantics, the batch_knn shape.
    probe_df = spark.createDataFrame(pairs, f"_qrow int, {qid_col} long, _cell long")
    bc = spark.sparkContext.broadcast((Q, qn, qv))

    def kernel(batches):
        Qm, qnorm, qvalid = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_quantized(pdf)
            an, valid = _norms(A)
            rows = pdf["_qrow"].to_numpy(dtype=np.int64)
            # a candidate of a zero-norm query is excluded like a
            # zero-norm posting — undefined cosine, never NaN-ranked
            valid &= qvalid[rows]
            raw = np.zeros(len(A), dtype=np.float64)
            an_safe = np.where(valid, an, 1.0)
            for j in set(rows[valid].tolist()):  # candidate-linear, one BLAS row-block per query
                m = rows == j
                raw[m] = (A[m] @ Qm[j]) / (an_safe[m] * qnorm[j])
            yield pd.DataFrame(
                {
                    qid_col: pdf[qid_col].to_numpy(dtype=np.int64)[valid],
                    id_col: pdf["_id"].to_numpy(dtype=np.int64)[valid],
                    "_raw": raw[valid],
                }
            )

    cand = postings.join(F.broadcast(probe_df), "_cell").select("_qrow", qid_col, "_id", "_qv")
    out = cand.mapInPandas(kernel, schema=f"{qid_col} long, {id_col} long, _raw double")
    return _rank_per_query(out, k, qid_col, id_col)


def assign_cells(
    centroids: DataFrame,
    arrivals: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """File NEW vectors into a FROZEN coarse quantizer's cells — the
    ingest half of a stored IVF index. `ivf_index_build` snapshots a
    corpus; between index refreshes, arrivals are assigned to their
    nearest existing centroid by quantized cosine (1e-6 BIGINT compare,
    ties → lowest cell id — the `ivf_batch_probe` rank, applied with
    nprobe=1) and appended as posting segments.

    Physical shape: the centroid table (cells × dims, aggregate-sized)
    is the ONLY broadcast; assignment is ONE map-only Arrow pass over
    the arrivals — no shuffle, no corpus access, embarrassingly
    parallel at any arrival rate. Returns `(_cell, _id, _qv)` rows in
    the `ivf_index_build` postings schema (`_qv` carried as
    array<double>), ready to append under the `ivf_index_write` layout.

    Degenerate inputs (the semdedup_map discipline): a zero-norm
    centroid is never an assignment target; a zero-norm ARRIVAL — or
    any arrival when EVERY centroid is zero-norm — has no defined
    cosine against any assignable cell and is quarantined in
    `_cell = -1`: deterministic, never NaN, and invisible to probes
    (probe pairs reference real cells only).
    """
    return _assign_cells_precollected(*_collect_centroid_matrix(centroids), arrivals, id_col, vec_col)


def _assign_cells_precollected(
    cells, C, cn, cv, arrivals: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """`assign_cells` body over an ALREADY-COLLECTED quantizer —
    split out so `lloyd_refresh` can reuse the one centroid collect for
    both the assignment and the refreshed-centroid dimension instead of
    paying a second inference pass over the assigned frame."""
    bc = arrivals.sparkSession.sparkContext.broadcast((cells, C, cn, cv))

    def kernel(batches):
        cl, Cm, cn, cv = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            # quarantine by default: a quantizer with zero cells (built
            # from an empty corpus) assigns nothing, and a row with no
            # finite score — zero-norm, or every centroid zero-norm —
            # has no assignable cell; never argmax into -inf
            cell = np.full(len(pdf), -1, dtype=np.int64)
            if len(cl):
                A = _stack_quantized(pdf)
                Sq = _centroid_scores(A, *_norms(A), Cm, cn, cv)
                ok = np.isfinite(Sq.max(axis=1))
                cell[ok] = cl[Sq.argmax(axis=1)[ok]]
            yield pd.DataFrame(
                {"_cell": cell, "_id": pdf["_id"].to_numpy(dtype=np.int64), "_qv": pdf["_qv"]}
            )

    # NULL and RAGGED vectors are EXCLUDED (not quarantined): the -1
    # quarantine holds storable-but-unrankable rows (zero-norm); a
    # vector-less row has nothing to store as a posting at all, and a
    # wrong-dimension row can be neither ranked against the quantizer
    # nor stored in its posting space — the _ids_vectors corrupt-row
    # contract, applied before as_double. The dimension is the
    # quantizer's own (free: the collected centroid matrix carries it);
    # a zero-cell quantizer has no dimension and quarantines everything.
    filtered = arrivals.filter(
        F.col(vec_col).isNotNull() & ~_has_corrupt_component(vec_col)
    )
    if len(cells):
        filtered = filtered.filter(F.size(vec_col) == int(C.shape[1]))
    return filtered.select(
        F.col(id_col).cast("long").alias("_id"), as_double(vec_col).alias("_qv")
    ).mapInPandas(kernel, schema="_cell long, _id long, _qv array<double>")


def lloyd_refresh(
    centroids: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One deterministic Lloyd refinement step — the quantizer REFRESH a
    stored IVF index runs between ingest epochs, once drift from the
    frozen centroids degrades cell balance: re-assign every vector to
    its nearest CURRENT centroid (`assign_cells`, map-only), then
    recompute each cell's exact-integer centroid over its new members
    (`ivf_centroids` keyed by the assigned cell). No RNG and no
    convergence loop, so the step is oracle-checkable (v16); iterating
    it is full k-means, a policy choice outside the engine.

    Returns the refreshed centroid table ``(_cell, cv)`` — positionally
    compatible with every probe/assign consumer. Cells left empty by
    the re-assignment vanish (standard Lloyd); zero-norm quarantine
    rows (``_cell = -1``) are excluded from retraining.

    Scale shape: one Arrow map pass (centroids the only broadcast) +
    one explode feeding a partial+final (cell, dim) aggregate — shuffle
    ≤ cells × dims per map partition, never the corpus.
    """
    cells, C, cn, cv = _collect_centroid_matrix(centroids)
    assigned = _assign_cells_precollected(cells, C, cn, cv, corpus, id_col, vec_col).filter(
        F.col("_cell") >= 0
    )
    # the assigned frame is dimension-conformed by construction (the
    # assignment filter); pass the quantizer's dim so the retrain skips
    # a modal-inference pass that would recompute the whole assignment
    return ivf_centroids(
        assigned, "_qv", "_cell", dim=int(C.shape[1]) if len(cells) else None
    )


def ivf_index_write(centroids: DataFrame, postings: DataFrame, path: str) -> None:
    """Materialize the IVF index (`ivf_index_build`) to storage: the
    centroid table as one parquet, the postings PARTITIONED BY cell —
    so a probe's broadcast join on `_cell` triggers dynamic partition
    pruning and only the probed bucket DIRECTORIES are read. This is
    the literal stored-index layout a vector store keeps between index
    refreshes; `ivf_index_load` + `ivf_batch_probe` is the query path.
    """
    import os as _os

    centroids.write.mode("overwrite").parquet(_os.path.join(path, "centroids"))
    postings.write.mode("overwrite").partitionBy("_cell").parquet(
        _os.path.join(path, "postings")
    )


def ivf_index_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a stored IVF index (`ivf_index_write`) for probing. The
    postings frame keeps its cell-directory layout, so downstream
    probes scan only the buckets they hit (partition pruning)."""
    import os as _os

    centroids = spark.read.parquet(_os.path.join(path, "centroids"))
    postings = spark.read.parquet(_os.path.join(path, "postings")).select(
        F.col("_cell").cast("long").alias("_cell"), "_id", "_qv"
    )
    return centroids, postings
