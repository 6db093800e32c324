"""Similarity search over embedding columns (array<float>).

- cosine_topk:       brute-force cosine top-k against a probe vector —
                     fully native (zip_with/aggregate inside codegen), one
                     pass, then a k-row takeOrdered-style limit.
- ann_lsh_topk:      random-hyperplane LSH; candidates only from the
                     probe's bucket (and optionally Hamming-adjacent
                     buckets), exact cosine re-rank within candidates.
                     The scale path: bucket cardinality ~ n / 2^planes.
- ivf_topk:          IVF-style: centroid assignment (sampled init, or
                     train_ivf_centroids' distributed Lloyd refinement),
                     probe searches the nearest n_probe cells only.
- train_ivf_centroids: k-means over the corpus — one narrow matmul pass
                     per iteration, centroid-scale partials to the driver,
                     no shuffle; optional deterministic sample_fraction.
- ann_recall:        recall@k of any approximate result vs brute force —
                     the transparency metric for the pruned modes.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    # try_divide: a zero vector yields NULL cosine instead of an ANSI
    # DIVIDE_BY_ZERO task failure (real embedding tables contain zeros)
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _probe_norm_folded(probe_l: list) -> float:
    """sqrt of the SEQUENTIAL left-fold of squares — the same IEEE op
    sequence Catalyst constant-folds for ``_norm`` over a literal
    array, so kernel cosines stay bit-identical to the expression."""
    import math

    acc = 0.0
    for x in probe_l:
        acc = acc + x * x
    return math.sqrt(acc)


def _seq_probe_cosine(V: np.ndarray, pvec: np.ndarray, pnorm: float):
    """Vectorized cosine of each row of ``V`` against ``pvec`` with the
    fold's exact IEEE op order: per dimension one vectorized multiply,
    accumulated SEQUENTIALLY into float64 (the hard_negatives kernel
    discipline — np.sum's pairwise order would drift ulps). Returns
    (cosine ndarray, denominator ndarray) — try_divide semantics (a
    zero denominator -> NULL) are the caller's to apply from ``den``.
    """
    n, dim = V.shape
    dot = np.zeros(n)
    nrm = np.zeros(n)
    for j in range(dim):
        c = V[:, j]
        dot = dot + c * pvec[j]
        nrm = nrm + c * c
    den = np.sqrt(nrm) * pnorm
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / den
    return cos, den


def cosine_vs_probe(
    df: DataFrame,
    probe: Sequence[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cosine) against a constant probe vector.

    Runs as a vectorized numpy kernel, not the zip_with/aggregate
    expression: higher-order functions fall out of whole-stage codegen
    and run row-at-a-time in the interpreter (the measured
    hard_negatives lesson). Bit-exact by construction — per dimension
    one vectorized multiply accumulated sequentially into float64, the
    same IEEE op sequence as the fold, with the probe norm folded
    identically driver-side. try_divide semantics preserved: a zero
    denominator (zero vector or zero probe) yields NULL, as does a
    NULL or length-mismatched vector (zip_with's null padding made the
    fold NULL there).
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType
    from typing import Iterator

    probe_l = [float(x) for x in probe]
    dim = len(probe_l)
    pvec = np.asarray(probe_l, dtype=np.float64)
    pnorm = _probe_norm_folded(probe_l)
    schema = StructType([df.schema[id_col], StructField("cosine", DoubleType())])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({id_col: pdf[id_col], "cosine": []})
                continue
            col = pdf[vec_col]
            lens = np.fromiter(
                (len(v) if v is not None else -1 for v in col), dtype=np.int64,
                count=n,
            )
            valid = lens == dim
            out = np.empty(n, dtype=object)
            out[:] = None
            if valid.any():
                V = np.stack(col[valid].to_numpy()).astype(np.float64)
                cos, den = _seq_probe_cosine(V, pvec, pnorm)
                vals = np.empty(len(cos), dtype=object)
                vals[:] = cos
                vals[den == 0.0] = None
                out[valid] = vals
            yield pd.DataFrame({id_col: pdf[id_col], "cosine": out})

    return df.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def cosine_topk(
    df: DataFrame,
    probe: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k: scores computed in codegen, global top-k via
    orderBy+limit (Spark plans this as TakeOrderedAndProject — per-partition
    heaps, no full sort shuffle).
    """
    return (
        cosine_vs_probe(df, probe, vec_col=vec_col, id_col=id_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
) -> DataFrame:
    """Batch exact k-NN: every query vector's ``k`` highest-cosine
    corpus neighbors — the retrieval/bitext-mining primitive
    ``cosine_topk`` (one probe at a time) cannot express without a
    driver loop. Output: (query_id, rank, id_col, cosine), rank 1 =
    nearest, ties by id, cosine rounded to 6 dp after ranking.

    Scale shape: the query batch is BROADCAST (it is the small side by
    definition — a probe batch against a standing corpus), so the
    corpus never shuffles its vectors; scoring is the JVM codegen
    cosine. The per-query top-k then avoids the naive window over all
    Q x N scored rows: a first aggregate keyed on (query,
    spark_partition_id) keeps each executor's local top-k — complete
    map-side, since the key contains the partition id — so only
    partitions x Q x k struct rows ever shuffle; a second query-keyed
    aggregate merges the local lists. The exact baseline; the indexed
    scale path is the IVF family (`ivf_topk_from_assigned` with cell
    partition pruning).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(qvec).alias("_qv"))
    scored = (
        corpus.select(id_col, vec_col)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col(id_col),
            cosine_expr(F.col(vec_col), F.col("_qv")).alias("_cos"),
        )
    )
    return _topk_per_query(scored, k, id_col)


def _topk_per_query(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """(query_id, rank, id_col, cosine) — per-query top-k of a scored
    (query_id, id_col, _cos) frame via the partition-local bounded
    merge: a first aggregate keyed on (query, partition-id) keeps each
    executor's local top-k entirely MAP-side, so only
    partitions x Q x k struct rows shuffle into the query-keyed merge —
    never a Q x N window. Ties by id; cosine rounded 6 dp AFTER
    ranking. Shared by ``knn_join`` and ``hard_negatives``."""
    pair = F.struct((-F.col("_cos")).alias("nc"), F.col(id_col).alias("i"))
    local = scored.groupBy(
        "query_id", F.spark_partition_id().alias("_p")
    ).agg(F.slice(F.array_sort(F.collect_list(pair)), 1, k).alias("_top"))
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias(
            "_top"
        )
    )
    return merged.select(
        "query_id", F.posexplode("_top").alias("_r", "_s")
    ).select(
        "query_id",
        (F.col("_r") + 1).cast("int").alias("rank"),
        F.col("_s.i").alias(id_col),
        F.round(-F.col("_s.nc"), 6).alias("cosine"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    sim_lo: float = 0.35,
    sim_hi: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    positives: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval/embedding training
    (DPR / E5 style): for every query vector, the ``k`` corpus items
    that are similar-but-not-positive — cosine in
    ``[sim_lo, sim_hi)``. The upper bound drops the query itself
    (cos 1.0) and its near-duplicates (false negatives that poison the
    loss); the lower bound drops easy negatives the model learns
    nothing from. ``positives`` — an optional (query_id, id_col) gold
    frame — is anti-joined out so labeled positives can never surface
    as negatives regardless of score.

    Output: (query_id, rank, id_col, cosine), rank 1 = hardest kept
    negative; same contract as ``knn_join``.

    Scale shape: identical to ``knn_join`` (broadcast query batch, the
    corpus never shuffles its vectors, JVM codegen cosine) — PLUS the
    band filter runs before the partition-local top-k, so the rows
    entering the two bounded aggregates are band-survivors only, and
    the gold anti-join is keyed on (query_id, id) at that reduced
    scale (AQE broadcasts a small gold set at runtime; no hint is
    planted since training sets can be corpus-scale). The band compare
    uses the RAW cosine — both engines fold the dot product in the
    same sequential order, so the cut is bit-stable cross-engine (the
    same property the knn_join oracle pins).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (sim_lo < sim_hi):
        raise ValueError(
            f"need sim_lo < sim_hi, got [{sim_lo}, {sim_hi})"
        )
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(qvec).alias("_qv"))
    scored = _scored_vs_queries_kernel(
        corpus, q, id_col, vec_col,
        sim_lo=float(sim_lo), sim_hi=float(sim_hi),
        # per-partition pruning to k is only sound when nothing is
        # dropped AFTER scoring; a positives anti-join runs downstream,
        # so keep every band survivor in that case
        local_k=None if positives is not None else k,
    )
    if positives is not None:
        gold = positives.select(
            F.col(positives.columns[0]).alias("query_id"),
            F.col(positives.columns[1]).alias(id_col),
        ).distinct()
        scored = scored.join(gold, ["query_id", id_col], "left_anti")
    return _topk_per_query(scored, k, id_col)


def _scored_vs_queries_kernel(
    corpus: DataFrame,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    sim_lo: float,
    sim_hi: float,
    local_k: Optional[int],
) -> DataFrame:
    """(query_id, id, _cos) band survivors of corpus x query-batch
    cosine scoring — an Arrow/numpy kernel replacement for the
    crossJoin(broadcast) + interpreted zip_with/aggregate fold (guide
    §4.2: Spark's higher-order functions do not participate in codegen,
    so the fold runs row-at-a-time in the interpreter; the kernel runs
    one fused numpy op per dimension per batch instead).

    BIT-EXACT contract (the property the oracles pin): Catalyst
    evaluates ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)`` as
    elementwise products in the ARRAY ELEMENT TYPE (float32 products
    for array<float> columns) accumulated sequentially into a float64,
    and norms the same way. The kernel reproduces exactly that: per
    dimension j, one vectorized element-type multiply, then one float64
    accumulate — sequential over j, vectorized over rows — so every
    cosine, band compare and tie order is bit-identical to the
    expression form. Rows whose vector is NULL or whose length differs
    from the query's produce NULL cosine in the expression form (NULL
    propagation through zip_with padding) and are likewise dropped
    here; zero-norm vectors are dropped by try_divide semantics.

    ``local_k``: when set, each task emits only its top-``local_k``
    rows per query (sorted by (-cos, id) — the exact `_topk_per_query`
    order), which cannot change the global top-k merge; when None,
    every band survivor is emitted.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_rows = q.collect()  # the query batch is the broadcast side by design
    corpus_elem = corpus.schema[vec_col].dataType.elementType.simpleString()
    q_elem = q.schema["_qv"].dataType.elementType.simpleString()
    prod_t = (
        np.float32 if (corpus_elem == "float" and q_elem == "float")
        else np.float64
    )

    queries_np = []  # (query_id, qvec float64 view, |q| norm, dim)
    for row in q_rows:
        vq = row["_qv"]
        if vq is None:
            continue  # NULL query vector -> NULL cosine for every row
        arr = np.asarray(vq, dtype=prod_t)
        # query norm: sequential fold of element-type products into f64
        nacc = 0.0
        for x in arr:
            nacc += float(x * x)
        nq = float(np.sqrt(nacc))
        queries_np.append((row["query_id"], arr, nq, len(arr)))

    out_schema = StructType(
        [
            q.schema["query_id"],
            corpus.schema[id_col],
            StructField("_cos", DoubleType()),
        ]
    )

    def kernel(batches):
        tops = {i: [] for i in range(len(queries_np))} if local_k else None
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col]
            ids = pdf[id_col]
            # group rows by vector length; each group scores as a matrix
            lens = vecs.map(lambda v: -1 if v is None else len(v))
            for dim, idx in lens.groupby(lens).groups.items():
                if dim < 0:
                    continue
                V = np.asarray(
                    [np.asarray(vecs[i], dtype=prod_t) for i in idx],
                    dtype=prod_t,
                ).reshape(len(idx), dim)
                # corpus norms: sequential over j, vectorized over rows
                nacc = np.zeros(len(idx), dtype=np.float64)
                for j in range(dim):
                    nacc += V[:, j] * V[:, j]
                ncorp = np.sqrt(nacc)
                id_vals = ids[idx].to_numpy()
                for qi, (qid_v, qarr, qnorm, qdim) in enumerate(queries_np):
                    if qdim != dim:
                        continue  # length mismatch -> NULL cosine
                    dot = np.zeros(len(idx), dtype=np.float64)
                    for j in range(dim):
                        dot += V[:, j] * qarr[j]
                    denom = ncorp * qnorm
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / denom
                    keep = (
                        (denom != 0.0) & (cos >= sim_lo) & (cos < sim_hi)
                    )
                    if not keep.any():
                        continue
                    kcos = cos[keep]
                    kids = id_vals[keep]
                    if tops is None:
                        yield pd.DataFrame(
                            {
                                "query_id": [qid_v] * len(kcos),
                                id_col: kids,
                                "_cos": kcos,
                            }
                        )
                    else:
                        lst = tops[qi]
                        lst.extend(zip(-kcos, kids))
                        if len(lst) > 8 * local_k:
                            lst.sort()
                            del lst[local_k:]
        if tops is not None:
            for qi, lst in tops.items():
                if not lst:
                    continue
                lst.sort()
                del lst[local_k:]
                yield pd.DataFrame(
                    {
                        "query_id": [queries_np[qi][0]] * len(lst),
                        id_col: [i for _, i in lst],
                        "_cos": [-nc for nc, _ in lst],
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)


# ---------------------------------------------------------------------------
# LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim))


def ann_lsh_topk(
    df: DataFrame,
    probe: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    max_hamming: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: restrict the exact cosine re-rank to vectors whose
    hyperplane signature is within ``max_hamming`` bits of the probe's.
    Pushdown-friendly: the bucket predicate prunes before any scoring.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType
    from typing import Iterator

    probe_arr = np.asarray(probe, dtype=float)
    dim = len(probe_arr)
    planes = _planes(dim, n_planes, seed)
    probe_sig = 0
    for p in range(n_planes):
        if float(planes[p] @ probe_arr) > 0:
            probe_sig |= 1 << p

    # signature + Hamming filter + exact cosine in ONE Arrow pass: the
    # per-plane dots and the cosine previously ran as zip_with/aggregate
    # folds — interpreter-only, n_planes+1 folds per row. The kernel
    # replays each fold's exact IEEE op order (sequential per-dimension
    # accumulation), so the sign bits, the candidate set and the
    # re-ranked cosines are bit-identical. Rows whose vector is NULL or
    # length-mismatched got a NULL plane dot -> bit 0 in the native
    # form; the kernel gives them sig = 0 and a NULL cosine the same
    # way, and they survive the filter iff popcount(probe_sig) <=
    # max_hamming, exactly as before.
    probe_l = [float(x) for x in probe_arr]
    pvec = np.asarray(probe_l, dtype=np.float64)
    pnorm = _probe_norm_folded(probe_l)
    schema = StructType([df.schema[id_col], StructField("cosine", DoubleType())])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({id_col: pdf[id_col], "cosine": []})
                continue
            col = pdf[vec_col]
            lens = np.fromiter(
                (len(v) if v is not None else -1 for v in col), dtype=np.int64,
                count=n,
            )
            valid = lens == dim
            sig = np.zeros(n, dtype=np.int64)
            if valid.any():
                V = np.stack(col[valid].to_numpy()).astype(np.float64)
                vsig = np.zeros(V.shape[0], dtype=np.int64)
                for p in range(n_planes):
                    pl = planes[p]
                    acc = np.zeros(V.shape[0])
                    for j in range(dim):
                        acc = acc + V[:, j] * pl[j]
                    vsig |= (acc > 0).astype(np.int64) << p
                sig[valid] = vsig
            ham = np.zeros(n, dtype=np.int64)
            x = sig ^ probe_sig
            for b in range(n_planes):
                ham += (x >> b) & 1
            keep = ham <= max_hamming
            if not keep.any():
                yield pd.DataFrame({id_col: pdf[id_col][:0], "cosine": []})
                continue
            kept = pdf[keep]
            kvalid = valid[keep]
            out = np.empty(len(kept), dtype=object)
            out[:] = None
            if kvalid.any():
                V = np.stack(kept[vec_col][kvalid].to_numpy()).astype(np.float64)
                cos, den = _seq_probe_cosine(V, pvec, pnorm)
                vals = np.empty(len(cos), dtype=object)
                vals[:] = cos
                vals[den == 0.0] = None
                out[kvalid] = vals
            yield pd.DataFrame({id_col: kept[id_col], "cosine": out})

    return (
        df.select(id_col, vec_col)
        .mapInPandas(kernel, schema=schema)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-lite
# ---------------------------------------------------------------------------


def ivf_topk(
    df: DataFrame,
    probe: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 11,
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF-style ANN: centroids = deterministic sample of the data (or
    pass ``centroids`` from ``train_ivf_centroids`` for balanced cells);
    every vector is assigned to its nearest centroid (one narrow pass);
    the query scans only the ``n_probe`` cells nearest the probe.
    """
    if centroids is None:
        centroids = sample_centroids(df, n_cells, vec_col=vec_col, id_col=id_col)
    assigned = assign_ivf_cells(df, centroids, vec_col=vec_col)
    return ivf_topk_from_assigned(
        assigned, probe, centroids, k,
        n_probe=n_probe, vec_col=vec_col, id_col=id_col,
    )


def ivf_topk_from_assigned(
    assigned: DataFrame,
    probe: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    *,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF query over a PERSISTED cell-assignment table — the index form.

    ``assign_ivf_cells`` runs once at build time; the assignment table is
    written partitioned by ``ivf_cell`` (``write_table(...,
    partition_by=["ivf_cell"])``) and every query filters to its
    ``n_probe`` nearest cells. Against the partitioned layout that filter
    is a PartitionFilter: the scan reads n_probe/n_cells of the corpus
    FILES, not just of the rows — no per-query corpus matmul, no full
    scan. Centroids must be the ones the table was assigned with.
    """
    probe_arr = np.asarray(probe, dtype=float)
    dists = ((np.asarray(centroids, dtype=float) - probe_arr) ** 2).sum(axis=1)
    probe_cells = [int(i) for i in np.argsort(dists)[:n_probe]]
    candidates = assigned.where(F.col("ivf_cell").isin(probe_cells))
    return cosine_topk(candidates, probe, k, vec_col=vec_col, id_col=id_col)


def assign_ivf_cells(
    df: DataFrame, centroids: np.ndarray, *, vec_col: str = "embedding"
) -> DataFrame:
    """Append ``ivf_cell`` = argmin centroid (squared L2, ties -> lowest
    cell index) via ONE numpy matmul per Arrow batch.

    An expression-tree alternative (a when-chain over per-centroid
    F.aggregate distances) stays inside codegen but grows linearly in
    n_cells and chokes the compiler past a few dozen centroids; the matmul
    kernel is O(batch x cells) BLAS and scales to production cell counts
    (tested at n_cells=256).
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cn = (cents * cents).sum(axis=1)  # ||c||^2 per cell
    out_schema = StructType(df.schema.fields + [StructField("ivf_cell", IntegerType())])

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                # argmin ||v-c||^2 = argmin (||c||^2 - 2 v.c); ||v||^2 constant per row
                scores = cn[None, :] - 2.0 * (V @ cents.T)
                pdf = pdf.copy()
                pdf["ivf_cell"] = np.argmin(scores, axis=1).astype("int32")
            else:
                pdf = pdf.copy()
                pdf["ivf_cell"] = pd.Series([], dtype="int32")
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def sample_centroids(
    df: DataFrame,
    n_cells: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic hash-ordered sample of ``n_cells`` data vectors —
    the zero-training IVF initialization (and the k-means init)."""
    sample = (
        df.orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(10**9)))
        .limit(n_cells)
        .select(vec_col)
        .collect()
    )
    return np.asarray([row[0] for row in sample], dtype=float)


def maxmin_centroids(
    df: DataFrame,
    n_cells: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch: Optional[int] = None,
) -> np.ndarray:
    """Deterministic farthest-point (k-center greedy / max-min) seeding.

    Starts from the hash-min vector, then repeatedly adds the ``batch``
    globally-farthest vectors from the current seed set (squared L2 to the
    nearest seed, numpy matmul per Arrow partition, global top via
    TakeOrdered semantics — orderBy+limit). ceil(n_cells/batch) narrow
    passes; deterministic (ties broken by id). Far better spread than a
    hash sample on clustered data — a sampled init can land every seed in
    one dense blob.
    """
    import pandas as pd

    batch = batch or max(1, n_cells // 8)
    first = (
        df.orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(10**9)))
        .limit(1)
        .select(vec_col)
        .collect()
    )
    if not first:
        raise ValueError("maxmin_centroids: empty input")
    seeds = [np.asarray(first[0][0], dtype=np.float64)]

    while len(seeds) < n_cells:
        cents = np.ascontiguousarray(np.stack(seeds))
        cn = (cents * cents).sum(axis=1)
        out_schema = f"{id_col} string, d2 double"

        def kern(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                vn = (V * V).sum(axis=1)
                d2 = (
                    vn[:, None] - 2.0 * (V @ cents.T) + cn[None, :]
                ).min(axis=1)
                yield pd.DataFrame(
                    {id_col: pdf[id_col].astype(str), "d2": d2}
                )

        take = min(batch, n_cells - len(seeds))
        far_ids = [
            row[0]
            for row in df.select(id_col, vec_col)
            .mapInPandas(kern, schema=out_schema)
            .orderBy(F.desc("d2"), F.asc(id_col))
            .limit(take)
            .collect()
        ]
        rows = (
            df.where(F.col(id_col).cast("string").isin(far_ids))
            .select(id_col, vec_col)
            .collect()
        )
        # deterministic order regardless of collect order
        rows.sort(key=lambda r: str(r[0]))
        seeds.extend(np.asarray(r[1], dtype=np.float64) for r in rows)
    return np.stack(seeds[:n_cells])


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iter: int = 3,
    sample_fraction: Optional[float] = None,
    init: str = "sample",
) -> np.ndarray:
    """Lloyd k-means refinement of the sampled centroids, distributed.

    Each iteration is ONE narrow job: a mapInPandas kernel assigns every
    vector to its nearest centroid with the same matmul as
    ``assign_ivf_cells`` and emits per-partition partial (cell, count,
    sum-vector) rows; partials (n_partitions x n_cells rows — centroid-
    scale, never corpus-scale) are collected and reduced on the driver.
    No shuffle anywhere; the corpus is scanned ``n_iter`` times.
    ``sample_fraction`` trains on a deterministic subset (pass e.g. 0.05
    at 100 TB — k-means quality saturates long before full-corpus scans).
    Empty cells keep their previous centroid (standard Lloyd fallback).
    ``init='maxmin'`` seeds with the deterministic farthest-point sweep
    (``maxmin_centroids``) instead of the hash sample — costs
    ceil(n_cells/batch) extra narrow passes, avoids all-seeds-in-one-blob
    degeneracy on clustered data.
    """
    import pandas as pd

    train = df.select(id_col, vec_col)
    if sample_fraction is not None and sample_fraction < 1.0:
        denom = 1_000_000
        train = train.where(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(denom))
            < int(denom * sample_fraction)
        )
    if init == "maxmin":
        centroids = maxmin_centroids(train, n_cells, vec_col=vec_col, id_col=id_col)
    elif init == "sample":
        centroids = sample_centroids(train, n_cells, vec_col=vec_col, id_col=id_col)
    else:
        raise ValueError(f"unknown init {init!r}")
    if centroids.ndim != 2 or len(centroids) == 0:
        raise ValueError(
            "train_ivf_centroids: no training vectors "
            "(empty input or sample_fraction too small)"
        )
    partial_schema = "cell int, n long, vsum array<double>"

    for _ in range(n_iter):
        cents = np.ascontiguousarray(centroids, dtype=np.float64)
        cn = (cents * cents).sum(axis=1)

        def partials(batches):
            acc_n = np.zeros(len(cents), dtype=np.int64)
            acc_sum = np.zeros_like(cents)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                cells = np.argmin(cn[None, :] - 2.0 * (V @ cents.T), axis=1)
                np.add.at(acc_n, cells, 1)
                np.add.at(acc_sum, cells, V)
            hit = np.nonzero(acc_n)[0]
            yield pd.DataFrame(
                {
                    "cell": hit.astype("int32"),
                    "n": acc_n[hit],
                    "vsum": [acc_sum[i] for i in hit],
                }
            )

        rows = train.mapInPandas(partials, schema=partial_schema).collect()
        new_n = np.zeros(len(cents), dtype=np.int64)
        new_sum = np.zeros_like(cents)
        for row in rows:
            new_n[row.cell] += row.n
            new_sum[row.cell] += np.asarray(row.vsum)
        nonempty = new_n > 0
        centroids = cents.copy()
        centroids[nonempty] = new_sum[nonempty] / new_n[nonempty, None]

    return centroids


def ivf_index_drift(
    assigned: DataFrame,
    probe: Sequence[float],
    centroids: np.ndarray,
    k: int = 10,
    *,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Recall@k of a (possibly stale) IVF index against fresh brute
    force over the SAME corpus — the transparency metric for deferring
    centroid re-training under incremental appends.

    The incremental IVF story mirrors the dedup families: the standing
    corpus is assigned once (``assign_ivf_cells``, persisted partitioned
    by ``ivf_cell``); a new batch is assigned with the SAME centroids
    and appended — assignment is per-row deterministic, so
    append-then-query is bit-equal to a full re-assign with those
    centroids. What appends DO degrade is how well the stale centroids
    partition the grown corpus: vectors from a drifted distribution
    crowd a few cells and n_probe pruning starts missing true
    neighbors. This metric measures exactly that (1.0 = the pruned
    query still finds the fresh brute-force top-k; at n_probe ==
    n_cells it is 1.0 by construction). Re-train when it sags below the
    application's floor, e.g. via ``train_ivf_centroids`` on a sample.
    """
    approx = [
        r[0]
        for r in ivf_topk_from_assigned(
            assigned, probe, centroids, k,
            n_probe=n_probe, vec_col=vec_col, id_col=id_col,
        ).collect()
    ]
    return ann_recall(
        assigned.select(id_col, vec_col), probe, approx, k,
        vec_col=vec_col, id_col=id_col,
    )


def ann_recall(
    df: DataFrame,
    probe: Sequence[float],
    approx_ids: Sequence,
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Recall@k of an approximate result against the brute-force top-k —
    the transparency metric for the pruned ANN modes (LSH bucket / IVF
    n_probe), which are approximate by construction."""
    exact = {r[0] for r in cosine_topk(df, probe, k, vec_col=vec_col, id_col=id_col).collect()}
    return len(exact & set(approx_ids)) / max(1, len(exact))


def lexical_cosine_pairs(
    docs: DataFrame,
    min_sim: float = 0.5,
    *,
    n: int = 1,
    max_df: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs with lexical cosine similarity >= ``min_sim``
    over token ``n``-gram term-frequency vectors: (id_a, id_b, sim),
    id_a < id_b, sim rounded to 6 dp.

    The sparse counterpart of ``embedding_dup_pairs``: exact cosine in
    term space, found via an inverted-index self-join — the classic
    all-pairs-similarity shape (Bayardo et al., WWW'07 "Scaling Up All
    Pairs Similarity Search"):

    - (doc, term, tf) from ONE explode + groupBy — the only pass over
      text;
    - ``max_df`` prunes high-document-frequency terms BEFORE pairing
      (df = one term-keyed aggregation + a semi-join back — one extra
      term-keyed shuffle, paid only when the cap is set; map-side
      partials keep a hot term from concentrating a partition the way
      a window sort would). A term in k docs creates k(k-1)/2 candidate
      rows, so stopword-grade terms are what make all-pairs quadratic;
      capping df bounds the join fan-out at max_df²/2 per term. Norms
      are computed AFTER the cap, so the result is EXACT cosine over
      the df-capped vocabulary (a well-defined metric, deterministic,
      oracle-checkable) rather than an approximation of the uncapped
      one;
    - candidate dot products: equi-join on the term, upper triangle
      (id_a < id_b), groupBy(pair) sum — integer arithmetic until the
      final sqrt/divide, so engine float order cannot drift the 6 dp
      compare (dot and the squared norms are exact integers; the final
      expression is a fixed-shape IEEE computation).

    At 10^12-doc scale this operator is for WITHIN-CLUSTER verification
    (post-LSH buckets, shard-local corpora) or aggressive max_df — the
    uncapped all-pairs join is inherently quadratic in the hottest
    term's df, which is why the cap is a first-class argument and the
    banded LSH family is the corpus-wide path.
    """
    from ..functions.text import ngrams_expr, tokens_expr

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    terms = (
        ngrams_expr(text_col, n) if n > 1 else tokens_expr(F.col(text_col))
    )
    tf = (
        docs.select(F.col(id_col).alias("_id"), F.explode(terms).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        keep_terms = dfreq.where(F.col("_df") <= max_df).select("term")
        tf = tf.join(keep_terms, "term", "left_semi")
    norms = tf.groupBy("_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("s2"))
    # the PAIRING side additionally drops df == 1 terms: a term in one
    # document joins only with itself and the id_a < id_b filter kills
    # that row, so such terms contribute to norms but never to any dot —
    # dropping them up front is exact and removes their join fan-in
    pair_terms = dfreq.where(
        (F.col("_df") >= 2)
        & ((F.lit(True) if max_df is None else F.col("_df") <= max_df))
    ).select("term")
    tfp = tf.join(pair_terms, "term", "left_semi")
    a = tfp.select(F.col("_id").alias("id_a"), "term", F.col("tf").alias("tf_a"))
    b = tfp.select(F.col("_id").alias("id_b"), "term", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("s2").alias("s2_a"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("s2").alias("s2_b"))
    sim = F.col("dot") / (F.sqrt(F.col("s2_a")) * F.sqrt(F.col("s2_b")))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(sim >= F.lit(min_sim))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


def _lexical_stamp(n: int) -> str:
    return f"_fmt_v1_lx_n{n}"


def _check_lexical_stamp(df: DataFrame, what: str, n: int) -> None:
    from .dedup import _check_index_format

    _check_index_format(df, what, _lexical_stamp(n))


def lexical_tf_index(
    docs: DataFrame,
    *,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Persistable term-frequency index for incremental lexical cosine:
    ``(tf, norms)`` frames, stamped ``_fmt_v1_lx_n{n}``.

    - tf: (id_col, term, tf) over token n-grams;
    - norms: (id_col, s2) squared norms — exact integers, so they are
      append-FROZEN: a new batch never changes an old document's norm
      (unlike a df-capped space, which is why the probe refuses
      ``max_df`` — see ``lexical_cosine_probe``).

    Store tf bucketed on ``term`` and the probe's cross join reads it
    without an Exchange.
    """
    from ..functions.text import ngrams_expr, tokens_expr

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    stamp = _lexical_stamp(n)
    terms = ngrams_expr(text_col, n) if n > 1 else tokens_expr(F.col(text_col))
    tf = (
        docs.select(F.col(id_col).alias("_id"), F.explode(terms).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(stamp, F.lit(True))
    )
    norms = (
        tf.groupBy("_id")
        .agg(F.sum(F.col("tf") * F.col("tf")).alias("s2"))
        .withColumn(stamp, F.lit(True))
    )
    return tf, norms


def lexical_cosine_probe(
    index_tf: DataFrame,
    index_norms: DataFrame,
    new_docs: DataFrame,
    min_sim: float = 0.5,
    *,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental form of ``lexical_cosine_pairs`` (uncapped): every
    pair involving the new batch — cross (new×standing) and within-new —
    at cosine >= ``min_sim``. ``pairs(standing) ∪ probe`` equals the
    full recompute over (standing ∪ new) bit-for-bit, because uncapped
    tf vectors and integer norms are append-frozen.

    There is deliberately NO ``max_df`` here: a df cap is evaluated
    against the WHOLE corpus, so an append can push a term over the cap
    and silently change standing-pair sims — the one thing an
    incremental index must never do. Cap-style pruning belongs in the
    batch-mode operator or upstream stopword removal.

    Scale shape: only the batch shingles; the standing tf index is
    joined on the term against the batch-scale probe side (AQE
    broadcasts it; a term-bucketed index layout removes the index-side
    Exchange entirely), and the standing norms join only against
    surviving candidate pairs. The history never re-aggregates.

    Requires standing/new ids disjoint (append-only), like every probe
    in this family.
    """
    stamp = _lexical_stamp(n)
    _check_lexical_stamp(index_tf, "lexical_cosine_probe(tf)", n)
    _check_lexical_stamp(index_norms, "lexical_cosine_probe(norms)", n)

    from ..functions.text import ngrams_expr, tokens_expr

    terms = ngrams_expr(text_col, n) if n > 1 else tokens_expr(F.col(text_col))
    new_tf = (
        new_docs.select(F.col(id_col).alias("_id"), F.explode(terms).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    new_norms = new_tf.groupBy("_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("s2")
    )

    old_side = index_tf.select(
        F.col("_id").alias("id_o"), "term", F.col("tf").alias("tf_o")
    )
    probe_side = new_tf.select(
        F.col("_id").alias("id_n"), "term", F.col("tf").alias("tf_n")
    )
    # cross pairs: ids are disjoint, so orient (min, max) AFTER the dot
    cross = (
        old_side.join(probe_side, "term")
        .groupBy("id_o", "id_n")
        .agg(F.sum(F.col("tf_o") * F.col("tf_n")).alias("dot"))
        .select(
            F.least("id_o", "id_n").alias("id_a"),
            F.greatest("id_o", "id_n").alias("id_b"),
            "dot",
        )
    )
    a = new_tf.select(F.col("_id").alias("id_a"), "term", F.col("tf").alias("tf_a"))
    b = new_tf.select(F.col("_id").alias("id_b"), "term", F.col("tf").alias("tf_b"))
    within = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    dots = cross.unionByName(within)
    all_norms = index_norms.select("_id", "s2").unionByName(new_norms)
    na = all_norms.select(F.col("_id").alias("id_a"), F.col("s2").alias("s2_a"))
    nb = all_norms.select(F.col("_id").alias("id_b"), F.col("s2").alias("s2_b"))
    sim = F.col("dot") / (F.sqrt(F.col("s2_a")) * F.sqrt(F.col("s2_b")))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(sim >= F.lit(min_sim))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# int8 quantization (4x memory/IO on the dominant column)
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Scalar absmax int8 quantization per vector:
    ``q_i = round(127 * v_i / absmax(v))`` stored as ``array<tinyint>``
    plus the per-row ``absmax/127`` reconstruction scale (double) —
    the storage/IO layout every large ANN deployment runs (a 100 TB
    float32 embedding column becomes 25 TB, and the similarity kernels
    below never promote back to per-element floats).

    All-native (transform/aggregate inside codegen), no Python. Zero
    vectors quantize to all-zero with scale 0 (dequantizes to the zero
    vector; cosine against it is NULL via try_divide, matching the raw
    path). NULL vectors pass through as NULL.
    """
    v = F.col(vec_col).cast("array<double>")
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    q = F.transform(
        v,
        lambda x: F.when(absmax == 0.0, F.lit(0))
        .otherwise(F.round(x * F.lit(127.0) / absmax, 0))
        .cast("tinyint"),
    )
    return df.withColumn(out_col, q).withColumn(
        scale_col, absmax / F.lit(127.0)
    )


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """array<double> reconstruction of a quantized vector."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


def cosine_topk_quantized(
    df: DataFrame,
    probe: Sequence[float],
    k: int = 10,
    *,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k over an int8-quantized table: the dot product
    folds over INTEGER products (one long accumulator — the cheap path
    a SIMD int8 kernel takes on a real deployment) and the per-row
    scale multiplies in ONCE at the end; cosine is scale-invariant in
    the probe, so ranking error comes only from the int8 rounding
    (recall measured by ``ann_recall`` against the raw-float top-k).
    Same output contract as ``cosine_topk``.
    """
    probe_arr = [float(x) for x in probe]
    pq = F.array(*[F.lit(x) for x in probe_arr])
    qv = F.col(qvec_col)
    # integer-valued double fold: int8 products are exact in doubles
    dot_q = F.aggregate(
        F.zip_with(qv, pq, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = F.sqrt(
        F.aggregate(
            qv,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    import math

    pnorm = math.sqrt(sum(x * x for x in probe_arr))
    # scale cancels between dot (scale^1) and vector norm (scale^1);
    # try_divide keeps zero vectors NULL like the raw path
    cos = F.try_divide(dot_q, norm_q * F.lit(pnorm))
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )
