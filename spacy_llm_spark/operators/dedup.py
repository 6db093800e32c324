"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its cache dedups work, not data); these are
the first-class scale operators the task brief requires:

- exact_dedup            hash-groupBy on sha256(text)
- minhash_lsh_dup_pairs  shingle -> minhash -> band -> bucket join
- simhash                64-bit similarity fingerprint (native exprs + agg)
- simhash_dup_pairs      hamming<=k pairs via pigeonhole block banding
                         (exact for k < n_blocks — recall 1.0, never all-pairs)
- dedup_clusters         pairs -> connected components -> (doc, cluster_rep)
- ngram_jaccard_vs       token-set Jaccard (native array ops)
- embedding_dup_pairs    cosine near-dup via LSH bucketing

Scale notes: every pairwise method avoids the O(n^2) cross join by
bucketing (LSH bands / simhash prefixes); candidate pairs are verified
with an exact measure only within buckets. Signatures are computed in
vectorized numpy inside Arrow batches.
"""

from __future__ import annotations

import logging
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..fs import cut_lineage
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

logger = logging.getLogger(__name__)

# Persisted-index format version. 2 = band folded into the bucket value
# (single-key candidate joins). Bumped whenever the bucket formula
# changes: a probe against an index built by a different formula would
# not error — it would silently return missing pairs — so probes refuse
# mismatched or unversioned index frames instead.
#
# The version AND the build params (everything the bucket formula or the
# verify step depends on: hashes/bands/shingles/seed, blocks/token-hash,
# planes/dim) are encoded in the stamp COLUMN NAME, e.g.
# `_fmt_v2_mh_b16_h64_k3_s42`. The check is therefore purely
# schema-level — zero runtime cost, no row scan — and survives any
# persistence that preserves column names (parquet, catalog tables).
# A probe built with different params computes a different expected
# stamp and refuses the frame instead of silently dropping pairs
# (mismatched seed/bands -> buckets don't align; mismatched n_hashes
# -> jaccard_est mis-scaled).
LSH_INDEX_FORMAT = 2


def _index_stamp(family: str, **params) -> str:
    parts = "_".join(f"{k}{params[k]}" for k in sorted(params))
    return f"_fmt_v{LSH_INDEX_FORMAT}_{family}_{parts}"


def _check_index_format(index: DataFrame, what: str, expected: str) -> None:
    if expected in index.columns:
        return
    stamped = [c for c in index.columns if c.startswith("_fmt")]
    if stamped:
        raise ValueError(
            f"{what}: index stamp mismatch — the frame carries "
            f"{stamped[0]!r} but this build expects {expected!r}. The "
            "format version or the build params (seed/bands/hashes/"
            "blocks/planes) differ; probing would silently return "
            "missing pairs. Rebuild the index, or call with the params "
            "it was built with."
        )
    raise ValueError(
        f"{what}: index frame has no _fmt* stamp column — it was built "
        "by an incompatible (pre-versioning) formula; rebuild it with "
        "the current index builder"
    )

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text hash. One shuffle on
    the 64-hex digest (uniform keys — no skew by construction).
    """
    return (
        df.withColumn("_h", F.sha2(F.col(text_col), 256))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(hash, ids, n_copies) for texts occurring more than once."""
    return (
        df.withColumn("text_sha", F.sha2(F.col(text_col), 256))
        .groupBy("text_sha")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — minhash over k-token shingles, vectorized
    numpy per Arrow batch (narrow; no shuffle).

    Shingles are hashed with pandas' SipHash (``pd.util.hash_array`` with
    its documented fixed default key), NOT Python builtin ``hash()``:
    signatures must be stable across CPython versions and identical
    whether computed driver- or executor-side, so persisted signature
    tables stay valid artifacts across runs and cluster upgrades. The
    whole batch is hashed in one C call and reduced per-doc with
    ``np.minimum.reduceat`` — no per-shingle Python in the hot path.
    """
    a, b = _minhash_params(n_hashes, seed)
    a_u = a.astype(np.uint64)
    b_u = b.astype(np.uint64)
    schema = StructType(
        [
            df.schema[id_col],
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: pdf[id_col], "sig": []})
                continue
            shingles: list[str] = []
            starts: list[int] = []
            for text in pdf[text_col]:
                toks = (text or "").split()
                starts.append(len(shingles))
                n = len(toks) - shingle_k + 1
                if n <= 0:
                    shingles.append("")  # sentinel: every doc owns >=1 shingle
                else:
                    # dedup within doc (set) to keep minhash set-semantics
                    shingles.extend(
                        {" ".join(toks[i : i + shingle_k]) for i in range(n)}
                    )
            hv = pd.util.hash_array(np.asarray(shingles, dtype=object))  # uint64 siphash
            hv = (hv % np.uint64(_MERSENNE)).astype(np.uint64)
            # (a*x + b) with well-defined uint64 wraparound, then mod p:
            # a deterministic universal-ish family, reproducible everywhere.
            m = (a_u[:, None] * hv[None, :] + b_u[:, None]) % np.uint64(_MERSENNE)
            mins = np.minimum.reduceat(m, np.asarray(starts, dtype=np.intp), axis=1)
            sigs = mins.T.astype(np.int64).tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def _cap_hot_buckets(
    banded: DataFrame,
    id_col: str,
    max_bucket_size: int | None,
    *,
    log_drops: bool = False,
    what: str = "lsh",
) -> DataFrame:
    """Keep at most ``max_bucket_size`` members per bucket —
    deterministically the lowest ids — so one degenerate bucket (empty
    docs, license boilerplate, all-identical corpora) cannot turn the
    band self-join quadratic. Duplicate-heavy corpora should run
    ``exact_dedup`` first; the cap is the safety net, not the dedup.
    The band lives inside the folded bucket value, so `bucket` alone is
    the group key (the retained `band` column is observability only).
    """
    if max_bucket_size is None:
        return banded
    # two-pass cap: the row_number window is a full sort shuffle of the
    # fat banded rows (signatures/vectors ride along), but buckets over
    # the cap are RARE by design — so find them with one slim aggregate
    # and sort only their rows; everything else passes through untouched
    # (same retained set: per-bucket lowest ids). The input is cut
    # first: three references follow, and the signature kernel feeding
    # ``banded`` must run once, not three times.
    banded = cut_lineage(banded)
    hot = (
        banded.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_bucket_size)
        .select("bucket")
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    hot_rows = banded.join(hot, "bucket", "left_semi")
    capped_hot = (
        hot_rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )
    capped = banded.join(hot, "bucket", "left_anti").unionByName(
        capped_hot.select(*banded.columns)
    )
    if log_drops:
        n_before = banded.count()
        n_after = capped.count()
        logger.warning(
            "%s: hot-bucket cap %d dropped %d of %d banded rows",
            what, max_bucket_size, n_before - n_after, n_before,
        )
    return capped


def _mh_band(
    sigs: DataFrame, id_col: str, n_hashes: int, bands: int, *,
    carry_sig: bool = True,
) -> DataFrame:
    """Explode a signature frame into one (id[, sig], band, bucket) row
    per band. The band index is FOLDED INTO the bucket hash, so every
    candidate join downstream needs only the single `bucket` key — which
    is what lets a persisted index, written bucketed on `bucket`
    (sources/bucketed.py), serve probes without ever re-shuffling the
    index side (a (band, bucket) composite key could never co-partition
    with a bucketed table layout). ``carry_sig=False`` drops the
    signature from the banded rows for self-join-only consumers
    (guide §2.3: project before the exchange).
    """
    rows_per_band = n_hashes // bands
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(
                F.lit(i),
                F.slice("sig", i * rows_per_band + 1, rows_per_band).cast("string"),
            ).alias("bucket"),
        )
        for i in range(bands)
    ]
    keep = [F.col(id_col)] + ([F.col("sig")] if carry_sig else [])
    out = [id_col] + (["sig"] if carry_sig else []) + ["bb.band", "bb.bucket"]
    return sigs.select(
        *keep, F.explode(F.array(*band_cols)).alias("bb")
    ).select(*out)


def minhash_lsh_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """The persistable LSH index: one (id, sig, band, bucket) row per
    document per band. Write it out once (ideally bucketed on ``bucket``,
    see sources/bucketed.py) and new crawl batches dedup against it via
    ``minhash_lsh_probe`` — the corpus never re-shingles. The signature
    rides along per band row (bands× duplication) so a probe join needs
    no second corpus-side lookup to verify candidates; at 64 hashes ×
    16 bands that is ~8 KB/doc of index, trivially worth the saved join.
    """
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
        shingle_k=shingle_k, seed=seed,
    )
    banded = _mh_band(sigs, id_col, n_hashes, bands)
    return _cap_hot_buckets(
        banded, id_col, max_bucket_size, log_drops=log_drops, what="minhash_lsh"
    ).withColumn(
        _index_stamp("mh", h=n_hashes, b=bands, k=shingle_k, s=seed),
        F.lit(LSH_INDEX_FORMAT),
    )


def _pair_est(pairs: DataFrame, n_hashes: int, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard_est) survivors: estimate + threshold BEFORE
    the pair distinct (slim rows through the dedup shuffle).

    Kept as the zip_with/filter EXPRESSION despite higher-order
    functions being interpreter-only: an A/B against a vectorized numpy
    kernel (r06) measured the kernel at parity when Python workers were
    warm and ~3 s slower cold — the estimate is not where this
    operator's time goes (the banded self-join is), so the dependency-
    free expression stays."""
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        / F.lit(n_hashes)
    ).alias("jaccard_est")
    return (
        pairs.select("id_a", "id_b", est)
        .where(F.col("jaccard_est") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def _probe_candidate_pairs(
    pb: DataFrame,
    index: DataFrame,
    id_col: str,
    payload_col: str,
    out_a: str,
    out_b: str,
    include_new_pairs: bool,
    expected_stamp: str,
    slim_attach: bool = False,
) -> DataFrame:
    """Shared probe scaffolding for the three incremental dedup families:
    batch-banded frame ⋈ index on the single folded `bucket` key (the
    band lives in the bucket value, so a bucket-bucketed index table
    co-partitions) — plus, optionally, the within-batch self-join — with
    ids normalized to id_a < id_b and the per-side payload (signature /
    fingerprint / vector) carried along as (out_a, out_b) in id order
    for the family-specific verify step. Refuses an index frame whose
    persisted bucket formula doesn't match this build.

    ``slim_attach=True`` (the wide-payload families: minhash signatures,
    embedding vectors): the candidate joins run on (id, bucket) keys
    only, the pair set is deduped slim, and payloads attach once per
    distinct pair from a candidate-id-filtered payload frame — the
    filter is a BROADCAST semi-join of the (small) candidate-id set, so
    the fat index rows are scanned but never shuffled (guide §2.3 / §8).
    With a bucket-bucketed index table both variants keep the index
    exchange-free; the slim form additionally keeps the in-memory-index
    path from shuffling ``bands`` payload copies. Verify work also drops
    from once per shared band to once per pair.
    """
    _check_index_format(index, "lsh_probe", expected_stamp)
    if slim_attach:
        from ..fs import cut_lineage as _cut

        lp = pb.select(id_col, "bucket")
        rp = index.select(id_col, "bucket")
        l, r = lp.alias("l"), rp.alias("r")
        lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
        cand = l.join(
            r, (F.col("l.bucket") == F.col("r.bucket")) & (lid != rid)
        ).select(
            F.least(lid, rid).alias("id_a"), F.greatest(lid, rid).alias("id_b")
        )
        if include_new_pairs:
            nl, nr = lp.alias("nl"), lp.alias("nr")
            cand = cand.unionByName(
                nl.join(
                    nr,
                    (F.col("nl.bucket") == F.col("nr.bucket"))
                    & (F.col(f"nl.{id_col}") < F.col(f"nr.{id_col}")),
                ).select(
                    F.col(f"nl.{id_col}").alias("id_a"),
                    F.col(f"nr.{id_col}").alias("id_b"),
                )
            )
        # cut: referenced by the id set AND the attach join below
        cand = _cut(cand.dropDuplicates(["id_a", "id_b"]))
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        payloads = (
            pb.select(id_col, payload_col)
            .unionByName(index.select(id_col, payload_col))
            .join(F.broadcast(ids), id_col, "left_semi")
            .dropDuplicates([id_col])
        )
        pa = payloads.select(
            F.col(id_col).alias("id_a"), F.col(payload_col).alias(out_a)
        )
        pb_ = payloads.select(
            F.col(id_col).alias("id_b"), F.col(payload_col).alias(out_b)
        )
        return cand.join(pa, "id_a").join(pb_, "id_b")
    l, r = pb.alias("l"), index.alias("r")
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    # band is folded into bucket at index build -> single join key,
    # co-partitionable with a bucket-bucketed index table
    cross = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (lid != rid),
    ).select(
        F.least(lid, rid).alias("id_a"),
        F.greatest(lid, rid).alias("id_b"),
        F.when(lid < rid, F.col(f"l.{payload_col}"))
        .otherwise(F.col(f"r.{payload_col}"))
        .alias(out_a),
        F.when(lid < rid, F.col(f"r.{payload_col}"))
        .otherwise(F.col(f"l.{payload_col}"))
        .alias(out_b),
    )
    if include_new_pairs:
        nl, nr = pb.alias("nl"), pb.alias("nr")
        new_new = nl.join(
            nr,
            (F.col("nl.bucket") == F.col("nr.bucket"))
            & (F.col(f"nl.{id_col}") < F.col(f"nr.{id_col}")),
        ).select(
            F.col(f"nl.{id_col}").alias("id_a"),
            F.col(f"nr.{id_col}").alias("id_b"),
            F.col(f"nl.{payload_col}").alias(out_a),
            F.col(f"nr.{payload_col}").alias(out_b),
        )
        cross = cross.unionByName(new_new)
    return cross


def minhash_lsh_probe(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    include_new_pairs: bool = True,
    log_drops: bool = False,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a new batch and an existing
    ``minhash_lsh_index`` — plus, with ``include_new_pairs``, pairs
    within the batch itself, so that

        pairs(old corpus) ∪ probe(batch vs index(old corpus))
            == pairs(old corpus ∪ batch)

    (exactly, modulo hot-bucket caps, which apply per frame). This is the
    daily-crawl dedup path: only the increment shingles and hashes; the
    corpus side is a pre-banded index read. Ids are normalized to
    id_a < id_b to match ``minhash_lsh_dup_pairs``. Params must match the
    ones the index was built with (same seed/bands/shingles, or buckets
    won't align).

    ``new_index``: a prebuilt (caller-materialized) ``minhash_lsh_index``
    over ``new_docs`` — pass it when the batch's band rows are also
    being persisted (the streaming ``maintain_lsh`` path) so the batch
    signature kernel runs once. Stamp-validated like ``index``.
    """
    # refuse a mismatched index BEFORE any probe-side work runs
    _check_index_format(
        index, "minhash_lsh_probe",
        _index_stamp("mh", h=n_hashes, b=bands, k=shingle_k, s=seed),
    )
    if new_index is not None:
        _check_index_format(
            new_index, "minhash_lsh_probe(new_index)",
            _index_stamp("mh", h=n_hashes, b=bands, k=shingle_k, s=seed),
        )
        pb = new_index
    else:
        pb = minhash_lsh_index(
            new_docs, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
            bands=bands, shingle_k=shingle_k, seed=seed,
            max_bucket_size=max_bucket_size, log_drops=log_drops,
        )
        # materialized once: joined against the index AND self-joined
        pb = cut_lineage(pb)
    cross = _probe_candidate_pairs(
        pb, index, id_col, "sig", "sig_a", "sig_b", include_new_pairs,
        _index_stamp("mh", h=n_hashes, b=bands, k=shingle_k, s=seed),
        # NOT slim_attach: the minhash probe's production index is a
        # bucket-bucketed table (sources/bucketed.py), where the direct
        # join is already exchange-free on the index side — an A/B at
        # 10x sf0.1 measured slim 2.26s vs direct 1.60s on the bucketed
        # path (the attach re-scans cost more than the payload shuffle
        # saves) while the in-memory-index path moved only 2.97 -> 2.50.
    )
    return _pair_est(cross, n_hashes, threshold)


def minhash_lsh_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
    index: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    Jaccard estimate >= threshold. Shuffles only on band buckets; buckets
    hotter than ``max_bucket_size`` are capped (lowest ids kept) so a
    degenerate corpus can't make the self-join quadratic.

    ``index``: a prebuilt (and caller-materialized) ``minhash_lsh_index``
    over ``df`` — pass it when the same index also serves
    ``minhash_lsh_probe`` so the corpus-side signature kernel runs once.
    """
    # the band self-join runs SLIM (id, bucket only): a banded row
    # carries the 64-long signature, so joining the fat rows ships
    # ``bands`` copies of every signature through the shuffle and runs
    # the Jaccard estimate once per shared band. Joining ids, deduping
    # the pair set, then attaching the two signatures (one copy per
    # side) shuffles bands x ~16-byte keys + 2 signature copies instead
    # of bands x signature copies, and estimates once per distinct pair
    # (guide §2.3 / §8: decide with small rows, move big rows once —
    # the embedding_dup_pairs discipline).
    if index is not None:
        _check_index_format(
            index, "minhash_lsh_dup_pairs",
            _index_stamp("mh", h=n_hashes, b=bands, k=shingle_k, s=seed),
        )
        slim = index.select(id_col, "bucket")
        sigs = index.select(id_col, "sig").dropDuplicates([id_col])
    else:
        # materialize the signatures once: banding is a cheap native
        # explode over them, and the pair attach re-reads them per side
        sigs = cut_lineage(minhash_signatures(
            df, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
            shingle_k=shingle_k, seed=seed,
        ))
        # the cap cuts the banded frame itself (three references follow);
        # the capped output is cut too — slim rows, and the self-join
        # below reads it twice (cheap checkpoint scan instead of
        # re-running the cap's join tree per side)
        slim = cut_lineage(_cap_hot_buckets(
            _mh_band(sigs, id_col, n_hashes, bands, carry_sig=False),
            id_col, max_bucket_size, log_drops=log_drops,
            what="minhash_lsh",
        ).select(id_col, "bucket"))

    left = slim.alias("l")
    right = slim.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = cand.join(sa, "id_a").join(sb, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )
        )
        / F.lit(n_hashes)
    ).alias("jaccard_est")
    # pairs are already distinct — no second dedup shuffle needed
    return (
        pairs.select("id_a", "id_b", est)
        .where(F.col("jaccard_est") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "sha2_60",
) -> DataFrame:
    """64-bit SimHash — entirely native expressions: explode tokens,
    per-bit majority vote via two-phase agg (skew-free: doc_id keys are
    uniform).

    token_hash='sha2_60' (default): 60-bit hash from the sha256 hex prefix
    — engine-portable (the DuckDB oracle reproduces it bit-for-bit), so
    persisted fingerprints are verifiable artifacts. 'xxhash64' is the
    max-throughput JVM path when cross-engine parity isn't needed.
    """
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    if token_hash == "xxhash64":
        h_expr = F.xxhash64("tok")
    elif token_hash == "sha2_60":
        # 15 hex chars = 60 bits; always positive, bits 60-63 vote to 0.
        h_expr = F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    hashed = toks.select(id_col, h_expr.alias("h"))
    one = F.lit(1).cast("long")
    bit_votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    voted = hashed.groupBy(id_col).agg(*bit_votes)
    sim_expr = F.lit(0).cast("long")
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(
            F.lit(0).cast("long")
        )
        sim_expr = sim_expr.bitwiseOR(bit)
    return voted.select(id_col, sim_expr.alias("simhash"))


def _check_pigeonhole(max_hamming: int, n_blocks: int) -> None:
    if not 2 <= n_blocks <= 64 or 64 % n_blocks:
        # n_blocks=1 would need a 64-bit all-ones mask (doesn't fit a
        # signed long literal) and means hamming=0, i.e. exact fingerprint
        # equality — use exact_dedup / fingerprint for that
        raise ValueError("n_blocks must divide 64 and be >= 2")
    if max_hamming >= n_blocks:
        raise ValueError(
            "pigeonhole banding requires max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks})"
        )


def simhash_lsh_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int = 4,
    token_hash: str = "sha2_60",
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """The persistable SimHash block index: one (id, simhash, band,
    bucket) row per document per bit-block. Write it once and new batches
    dedup against it via ``simhash_lsh_probe`` — the standing corpus
    never re-fingerprints. All native expressions.
    """
    _check_pigeonhole(0, n_blocks)
    width = 64 // n_blocks
    mask = (1 << width) - 1
    fp = simhash(df, text_col=text_col, id_col=id_col, token_hash=token_hash)
    # the block index is FOLDED INTO the bucket value (injective: disjoint
    # high bits) so candidate joins need only the single `bucket` key — a
    # bucket-bucketed index table then co-partitions with probe joins
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("simhash"), width * b)
                    .bitwiseAND(F.lit(mask))
                    + F.lit(b << width).cast("long")
                ).alias("bucket"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = fp.select(
        id_col, "simhash", F.explode(blocks).alias("bv")
    ).select(
        id_col,
        "simhash",
        F.col("bv.band").alias("band"),
        F.col("bv.bucket").alias("bucket"),
    )
    return _cap_hot_buckets(
        banded, id_col, max_bucket_size, log_drops=log_drops, what="simhash"
    ).withColumn(
        _index_stamp("sh", nb=n_blocks, th=token_hash),
        F.lit(LSH_INDEX_FORMAT),
    )


def simhash_lsh_probe(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    token_hash: str = "sha2_60",
    max_bucket_size: int | None = 1000,
    include_new_pairs: bool = True,
    log_drops: bool = False,
) -> DataFrame:
    """Hamming near-dup pairs between a new batch and an existing
    ``simhash_lsh_index`` — plus, with ``include_new_pairs``, pairs
    within the batch, so pairs(old) ∪ probe(batch) equals the full
    recompute over old ∪ batch (modulo per-frame hot-bucket caps; the
    banding itself stays recall-1.0 for max_hamming < n_blocks). Only
    the increment fingerprints; the corpus side is a pre-banded index
    read. ``n_blocks``/``token_hash`` must match the index build. Ids
    normalized to id_a < id_b to match ``simhash_dup_pairs``.
    """
    _check_pigeonhole(max_hamming, n_blocks)
    # refuse a mismatched index BEFORE any probe-side work runs
    _check_index_format(
        index, "simhash_lsh_probe",
        _index_stamp("sh", nb=n_blocks, th=token_hash),
    )
    pb = cut_lineage(simhash_lsh_index(
        new_docs, text_col=text_col, id_col=id_col, n_blocks=n_blocks,
        token_hash=token_hash, max_bucket_size=max_bucket_size,
        log_drops=log_drops,
    ))
    cross = _probe_candidate_pairs(
        pb, index, id_col, "simhash", "_fa", "_fb", include_new_pairs,
        _index_stamp("sh", nb=n_blocks, th=token_hash),
    )
    return (
        cross.where(
            F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))) <= max_hamming
        )
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    token_hash: str = "sha2_60",
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
    index: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, never all-pairs.

    ``index``: a prebuilt (caller-materialized) ``simhash_lsh_index``
    over ``df`` — pass it when the same index also serves
    ``simhash_lsh_probe`` so the corpus fingerprints once.

    Pigeonhole banding: split each 64-bit fingerprint into ``n_blocks``
    equal bit-blocks; two fingerprints within ``max_hamming`` bits (for
    ``max_hamming < n_blocks``) must agree on at least one whole block, so
    candidates come from a (block_idx, block_value) band self-join —
    bucket cardinality ~ n / 2^(64/n_blocks) on natural corpora — and the
    exact ``bit_count(xor)`` verify runs only inside buckets. Same scale
    shape as the MinHash path: capped hot buckets, lineage cut before the
    self-join, fully native expressions (no Python in the hot path).
    Returns distinct (id_a, id_b) with id_a < id_b.

    Recall: the banding itself is EXACT (1.0) for ``max_hamming <
    n_blocks``, but a (band, bucket) holding more than
    ``max_bucket_size`` members is capped to the lowest ids — pairs
    involving the dropped members are not emitted (``log_drops=True``
    warns with counts). Duplicate-heavy corpora (boilerplate, license
    files) should run ``exact_dedup`` first so identical texts cannot
    overflow a bucket; pass ``max_bucket_size=None`` for guaranteed-total
    recall when the corpus is known not to be degenerate.
    """
    _check_pigeonhole(max_hamming, n_blocks)
    if index is not None:
        _check_index_format(
            index, "simhash_dup_pairs",
            _index_stamp("sh", nb=n_blocks, th=token_hash),
        )
    banded = index if index is not None else cut_lineage(simhash_lsh_index(
        df, text_col=text_col, id_col=id_col, n_blocks=n_blocks,
        token_hash=token_hash, max_bucket_size=max_bucket_size,
        log_drops=log_drops,
    ))
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .where(
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            )
            <= max_hamming
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Canonicalize near-dup PAIRS into document clusters:
    (doc_id, cluster_rep) where cluster_rep is the smallest doc id in the
    pair-graph's connected component (transitive closure — a dups b,
    b dups c => one cluster) and unpaired docs represent themselves.
    Keep-one-per-cluster = ``where(doc_id == cluster_rep)``.

    Runs the same CC machinery as entity canonicalization
    (operators/canonicalize.py): driver union-find below
    ``driver_threshold`` edges, large-star/small-star above. Numeric ids
    are zero-padded for the lexicographic component labels, so the rep is
    the NUMERIC minimum.
    """
    from .canonicalize import connected_components

    numeric = dict(docs.dtypes)[id_col] in ("tinyint", "smallint", "int", "bigint")
    _MIN_LONG = -9223372036854775808

    def enc(c):
        if not numeric:
            return c.cast("string")
        # sign-split, order-preserving: "1"+%020d for id >= 0, "0"+%020d of
        # (id - MIN_LONG) for id < 0 — lexicographic order == numeric order
        # for the FULL signed-long range (a bare %020d renders negatives
        # as "-00..x", which sorts wrongly). The shift is written as a
        # SUBTRACTION of MIN_LONG: an addition chain would let Catalyst's
        # constant reassociation fold an overflowing literal under ANSI.
        return F.when(
            c >= 0, F.concat(F.lit("1"), F.format_string("%020d", c))
        ).otherwise(
            F.concat(
                F.lit("0"),
                F.format_string("%020d", c - F.lit(_MIN_LONG)),
            )
        )

    def dec(c):
        if not numeric:
            return c
        body = F.substring(c, 2, 20).cast("long")
        return F.when(F.substring(c, 1, 1) == "1", body).otherwise(
            body + F.lit(_MIN_LONG)
        )

    edges = pairs.select(
        enc(F.col("id_a")).alias("src"), enc(F.col("id_b")).alias("dst")
    )
    comps = connected_components(
        edges, max_iter=max_iter, driver_threshold=driver_threshold
    )
    return (
        docs.select(id_col)
        .distinct()
        .join(
            comps.select(
                dec(F.col("node")).alias(id_col),
                dec(F.col("component")).alias("cluster_rep"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("cluster_rep", F.col(id_col)).alias("cluster_rep"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (token sets, native array ops)
# ---------------------------------------------------------------------------


def token_set(col):
    return F.array_distinct(F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0))


def jaccard_vs_probe(
    df: DataFrame, probe_text: str, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token-set Jaccard of every doc against a fixed probe text — linear,
    fully native (array_intersect / array_union).
    """
    probe = F.array_distinct(F.split(F.lit(probe_text), r"\s+"))
    inter = F.size(F.array_intersect(token_set(F.col(text_col)), probe))
    union = F.size(F.array_union(token_set(F.col(text_col)), probe))
    return df.select(
        F.col(id_col),
        # try_divide: empty doc vs empty probe -> NULL, not an ANSI error
        F.try_divide(inter.cast("double"), union.cast("double")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine LSH)
# ---------------------------------------------------------------------------


def hyperplane_band_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 16,
    planes_per_band: int = 8,
    seed: int = 7,
    dim: int,
) -> DataFrame:
    """(id, vec, buckets: array<long>) — one random-hyperplane sign bucket
    per band, each band an independent set of ``planes_per_band`` planes.
    One numpy matmul per Arrow batch (narrow; no shuffle); ``dim`` comes
    from the caller — no discovery job.
    """
    planes = np.random.RandomState(seed).normal(size=(bands * planes_per_band, dim))
    weights = (np.int64(1) << np.arange(planes_per_band, dtype=np.int64))
    # band index folded into the bucket value (disjoint high bits) so
    # candidate joins need only the single `bucket` key
    band_offsets = np.arange(bands, dtype=np.int64) << np.int64(planes_per_band)
    schema = StructType(
        [
            df.schema[id_col],
            df.schema[vec_col],
            StructField("buckets", ArrayType(LongType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: [], vec_col: [], "buckets": []})
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            bits = (V @ planes.T) > 0  # (n, bands*ppb)
            buckets = (
                bits.reshape(len(pdf), bands, planes_per_band).astype(np.int64)
                @ weights
            ) + band_offsets[None, :]  # (n, bands)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "buckets": buckets.tolist(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def embedding_dup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 24,
    planes_per_band: int = 12,
    threshold: float = 0.95,
    seed: int = 7,
    dim: int,
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
    index: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs: banded random-hyperplane LSH (OR over
    ``bands`` independent AND-constructions of ``planes_per_band`` planes),
    then exact cosine verification inside candidate pairs only.

    Recall for a pair at cosine c: per-plane agreement p = 1 - acos(c)/pi,
    per-band p**planes_per_band, overall 1 - (1 - p**ppb)**bands. The
    defaults give >1-1e-8 recall at c=0.95 while a random pair (c~0)
    collides per band at 2**-ppb — candidates stay ~linear. A single
    AND-only signature (the naive construction) has ~20% recall at 0.95;
    the banded OR is what makes this usable as a dedup primitive.

    The exact-cosine verify runs as a vectorized numpy kernel, not
    zip_with/aggregate lambdas — higher-order expressions fall out of
    whole-stage codegen and are ~30x slower per row (measured).
    """
    if index is not None:
        # a prebuilt (caller-materialized) embedding_lsh_index over df —
        # shared with embedding_lsh_probe so the matmul kernel runs once
        _check_index_format(
            index, "embedding_dup_pairs",
            _index_stamp("em", b=bands, p=planes_per_band, s=seed, d=dim),
        )
        banded = index
    else:
        # materialize once: the self-join would otherwise run the
        # signature matmul kernel (and the cap shuffle) twice per side
        banded = cut_lineage(embedding_lsh_index(
            df, vec_col=vec_col, id_col=id_col, bands=bands,
            planes_per_band=planes_per_band, seed=seed, dim=dim,
            max_bucket_size=max_bucket_size, log_drops=log_drops,
        ))
    # the band self-join runs SLIM (id, bucket only): every index row
    # carries the full vector, so joining the fat rows ships ``bands``
    # copies of every embedding through the shuffle and re-verifies
    # each pair once per shared band. Joining ids, deduping the pair
    # set, then attaching the two vectors from ``df`` (one copy per
    # side) shuffles bands x 8-byte keys + 2 vector copies instead of
    # bands x vector copies, and runs the cosine kernel once per pair
    # (guide §2.3 / §8: decide with small rows, move big rows once).
    slim = banded.select(id_col, "bucket")
    left = slim.alias("l")
    right = slim.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")

    return _cosine_verified(pairs, df.schema[id_col].dataType, threshold)


def _cosine_verified(pairs: DataFrame, id_type, threshold: float) -> DataFrame:
    """Exact-cosine verify of (id_a, id_b, _va, _vb) candidate pairs.

    Verify + threshold run BEFORE the pair distinct: the cosine is
    bit-deterministic per pair (same vectors, same kernel), so deduping
    the slim (id_a, id_b, cosine) survivors shuffles ~24-byte rows after
    the threshold discarded most candidates, instead of shuffling both
    full embedding vectors for every raw band collision; band-duplicate
    pairs re-run the cheap numpy verify instead.
    """
    from pyspark.sql.types import DoubleType

    verify_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def verify_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
                continue
            A = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            cos = (A * B).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": cos}
            )

    return (
        pairs.mapInPandas(verify_kernel, schema=verify_schema)
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_lsh_index(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 24,
    planes_per_band: int = 12,
    seed: int = 7,
    dim: int,
    max_bucket_size: int | None = 1000,
    log_drops: bool = False,
) -> DataFrame:
    """The persistable embedding-LSH index: one (id, vec, band, bucket)
    row per vector per band. Write it once (ideally bucketed on
    ``bucket``, sources/bucketed.py) and new vector batches dedup against
    it via ``embedding_lsh_probe`` — the standing corpus never re-hashes.
    The vector rides along per band row so candidate verification needs
    no second corpus-side lookup.
    """
    sigs = hyperplane_band_buckets(
        df, vec_col=vec_col, id_col=id_col, bands=bands,
        planes_per_band=planes_per_band, seed=seed, dim=dim,
    )
    banded = sigs.select(
        F.col(id_col), F.col(vec_col), F.posexplode("buckets").alias("band", "bucket")
    )
    return _cap_hot_buckets(
        banded, id_col, max_bucket_size, log_drops=log_drops, what="embedding_lsh"
    ).withColumn(
        _index_stamp("em", b=bands, p=planes_per_band, s=seed, d=dim),
        F.lit(LSH_INDEX_FORMAT),
    )


def embedding_lsh_probe(
    new_vecs: DataFrame,
    index: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 24,
    planes_per_band: int = 12,
    threshold: float = 0.95,
    seed: int = 7,
    dim: int,
    max_bucket_size: int | None = 1000,
    include_new_pairs: bool = True,
    log_drops: bool = False,
) -> DataFrame:
    """Near-duplicate vector pairs between a new batch and an existing
    ``embedding_lsh_index`` — plus, with ``include_new_pairs``, pairs
    within the batch itself, so that pairs(old) ∪ probe(batch) equals a
    full recompute over old ∪ batch (modulo per-frame hot-bucket caps).
    Only the increment runs the hyperplane matmul; the corpus side is a
    pre-banded index read. Params must match the index build (same
    seed/bands/planes, or buckets won't align). Ids are normalized to
    id_a < id_b to match ``embedding_dup_pairs``.
    """
    # refuse a mismatched index BEFORE any probe-side work runs
    _check_index_format(
        index, "embedding_lsh_probe",
        _index_stamp("em", b=bands, p=planes_per_band, s=seed, d=dim),
    )
    pb = embedding_lsh_index(
        new_vecs, vec_col=vec_col, id_col=id_col, bands=bands,
        planes_per_band=planes_per_band, seed=seed, dim=dim,
        max_bucket_size=max_bucket_size, log_drops=log_drops,
    )
    # materialized once: joined against the index AND self-joined
    pb = cut_lineage(pb)
    cross = _probe_candidate_pairs(
        pb, index, id_col, vec_col, "_va", "_vb", include_new_pairs,
        _index_stamp("em", b=bands, p=planes_per_band, s=seed, d=dim),
        slim_attach=True,
    )
    return _cosine_verified(cross, new_vecs.schema[id_col].dataType, threshold)


def duplicated_ngram_stats(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span profile: how much of each document
    is made of token n-grams that also occur in OTHER documents.

    The sub-document counterpart of doc-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact
    substring duplication is what survives doc-level dedup and what LMs
    memorize). A gram is "duplicated" when it appears in >= ``min_docs``
    DISTINCT documents; the per-doc output is

        (id_col, n_grams, n_dup_grams, dup_ratio)

    over the doc's DISTINCT grams, dup_ratio rounded to 6 dp, zero-gram
    docs included with ratio 0.0.

    Scale shape: per-doc distinct grams are a pure projection
    (``ngrams_expr`` + ``array_distinct``, no self-join anywhere); the
    duplicated-gram set is ONE groupBy(gram) count over (doc, gram)
    rows — because the rows are per-doc distinct, count(*) IS the
    distinct-doc count, so no count_distinct buffer; the join back to
    per-doc grams is keyed on the same gram, reusing the partitioning.
    At 10^12-doc scale the gram-string shuffle key would be replaced by
    ``xxhash64(gram)`` (64-bit birthday collisions only ever OVERcount
    a handful of grams); here the raw gram is kept so the result is
    exact and oracle-checkable. Hot grams (boilerplate) are bounded by
    the same skew note as LSH buckets: a gram shared by every doc
    produces |docs| narrow rows on one key — cap or salt upstream if a
    profiling run shows one.
    """
    from ..functions.text import ngrams_expr

    per_doc = docs.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(ngrams_expr(text_col, n))).alias("gram"),
    )
    dup_grams = (
        per_doc.where(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram")
    )
    flagged = per_doc.join(dup_grams, "gram", "left_semi")
    stats = (
        per_doc.groupBy(id_col)
        .agg(
            F.sum(F.col("gram").isNotNull().cast("long")).alias("n_grams"),
        )
        .join(
            flagged.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_grams")),
            id_col,
            "left",
        )
    )
    return stats.select(
        F.col(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.round(
            F.when(F.col("n_grams") > 0, F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via k-means cells + within-cell exact cosine
# ---------------------------------------------------------------------------


def semantic_dup_pairs(
    df: DataFrame,
    centroids,
    *,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int = 200_000,
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023):
    partition the embedding space into centroid cells, then compute
    EXACT all-pairs cosine inside each cell only.

    Complements ``embedding_dup_pairs`` (hyperplane LSH): LSH recall is
    probabilistic per pair, while cell-local all-pairs is exhaustive
    within a cell — the SemDeDup bet is that semantic duplicates land in
    the same k-means cell, so cross-cell recall is traded for exactness
    where it matters and an O(sum cell^2) verify cost that ``n_cells``
    controls directly.

    Plan: one narrow matmul pass assigns cells
    (``similarity.assign_ivf_cells``); ONE shuffle groups by cell;
    a numpy gram-matrix kernel emits pairs >= ``threshold`` per cell
    (id_a < id_b, cos_sim at 6 dp). Cells are the parallel unit — size
    them via the centroid count so cell^2 fits a task; a cell above
    ``max_cell_rows`` raises with that guidance rather than silently
    running a quadratic task (an all-pairs op cannot be salted without
    changing its semantics).
    """
    from .similarity import assign_ivf_cells

    id_type = df.schema[id_col].dataType
    assigned = assign_ivf_cells(
        df.select(id_col, vec_col), np.asarray(centroids, dtype=float),
        vec_col=vec_col,
    )

    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dup_pairs: cell with {n} rows exceeds "
                f"max_cell_rows={max_cell_rows}; raise n_cells (smaller "
                "cells) or max_cell_rows (bigger quadratic tasks)"
            )
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0 vs everything
        Vn = V / norms[:, None]
        G = Vn @ Vn.T
        ia, ib = np.triu_indices(n, 1)
        keep = G[ia, ib] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": np.round(G[ia, ib][keep], 6),
            }
        )

    return assigned.groupBy("ivf_cell").applyInPandas(
        lambda _key, pdf: per_cell(pdf), out_schema
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    *,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int = 200_000,
) -> DataFrame:
    """Rows of ``df`` kept after SemDeDup pruning: drop a row when its
    cell holds a near-duplicate (cosine >= threshold) with a SMALLER id
    — the deterministic greedy keep-first rule (one survivor per
    near-dup chain, lowest id wins), applied as an anti-join of the
    dropped-id set. Corpus rows never shuffle beyond the cell grouping.
    """
    pairs = semantic_dup_pairs(
        df, centroids, threshold=threshold, vec_col=vec_col,
        id_col=id_col, max_cell_rows=max_cell_rows,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def token_window_lines(
    text_col: str, window: int = 8
) -> Column:
    """A pluggable "line" unit for corpora without newline structure:
    consecutive non-overlapping ``window``-token groups, each rejoined
    with single spaces. Pure array expression — whole-stage codegen."""
    from ..functions.text import tokens_expr

    toks = tokens_expr(F.col(text_col))
    n = F.size(toks)
    w = int(window)
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), ((n + (w - 1)) / w).cast("int") - 1),
            lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def newline_lines(text_col: str) -> Column:
    """The default "line" unit: split on newlines, drop empty and
    whitespace-only lines (CCNet counts content lines only)."""
    return F.filter(
        F.split(F.col(text_col), r"\n"),
        lambda ln: F.length(F.trim(ln)) > 0,
    )


def remove_duplicated_lines(
    docs: DataFrame,
    max_occurrences: int = 1,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lines: Column | None = None,
    delim: str = "\n",
) -> DataFrame:
    """CCNet-style corpus-level line dedup WITH document rewriting:
    drop every line whose exact text occurs in more than
    ``max_occurrences`` line slots across the whole corpus (boilerplate
    headers, navigation chrome, license blocks), then reassemble each
    document from its surviving lines in original order.

    Output: ``(id_col, clean_text, n_lines_kept, n_lines_removed)`` —
    every input doc appears exactly once; a doc whose lines were all
    duplicated (or that had no lines) survives with ``clean_text = ''``
    so downstream length/quality filters make the drop decision, not
    this operator.

    ``lines`` overrides the line unit (any ``array<string>`` Column —
    see ``token_window_lines`` for newline-free corpora); ``delim``
    rejoins survivors. Occurrences are counted over line SLOTS (a line
    repeated within one doc counts each repetition), matching CCNet's
    hash-multiset semantics.

    Scale shape (CCNet runs this over full Common Crawl snapshots):
    posexplode is narrow; the over-represented-line set is ONE
    groupBy(line) count — and only lines with count > max_occurrences
    survive the filter, so the set being joined back is the SMALL
    boilerplate set, left to AQE to broadcast when it fits; the
    reassembly groupBy(id) is the only other shuffle. At 10^12-line
    scale the line string as grouping key would be swapped for
    ``xxhash64(line)`` (collisions only ever over-remove one innocent
    line per ~2^32 distinct); the raw string is kept here so the result
    is exact and oracle-checkable.

    Reference anchor: the reference has no corpus-hygiene surface; this
    extends the training-data family (SURVEY.md §2 additions) next to
    ``duplicated_ngram_stats`` (Lee et al.) with the rewrite step.
    """
    if max_occurrences < 1:
        raise ValueError(
            f"max_occurrences must be >= 1, got {max_occurrences}"
        )
    lines = lines if lines is not None else newline_lines(text_col)
    exploded = docs.select(
        F.col(id_col), F.posexplode_outer(lines).alias("_pos", "_line")
    )
    totals = exploded.groupBy(id_col).agg(
        F.sum(F.col("_line").isNotNull().cast("long")).alias("_n_lines")
    )
    over = (
        exploded.where(F.col("_line").isNotNull())
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_occurrences)
        .select("_line")
    )
    kept = _reassemble_lines(
        exploded.where(F.col("_line").isNotNull()), over, id_col, delim
    )
    return totals.join(kept, id_col, "left").select(
        F.col(id_col),
        F.coalesce("_clean", F.lit("")).alias("clean_text"),
        F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
        (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
    )


def _reassemble_lines(
    slots: DataFrame, over: DataFrame, id_col: str, delim: str
) -> DataFrame:
    """Rebuild documents from the (id, _pos, _line) slots surviving the
    over-represented-line anti join: (id, _clean, _n_kept)."""
    return (
        slots.join(over, "_line", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                delim,
            ).alias("_clean"),
            F.count(F.lit(1)).alias("_n_kept"),
        )
    )
