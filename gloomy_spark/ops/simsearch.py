"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline, built-in expressions only
  (zip_with/aggregate fold — JVM-side), broadcast query vector;
- LSH-bucketed ANN: random-hyperplane signatures via a vectorized pandas
  UDF (one numpy matmul per Arrow batch), bucket join, in-bucket exact
  rerank — the 100 TB path (touches only matching buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k vs one stored vector. Broadcast of the single
    query row; the scan stays a single pass with no shuffle before the
    global top-k (TakeOrderedAndProject)."""
    q = emb.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    j = emb.crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("qv")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qv"))
    )
    return (
        j.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cos_sim"))
        .where(F.col("vec_id") != query_vec_id)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes))


def lsh_bucket_udf(dim: int, n_planes: int = 12, seed: int = 42):
    planes = _planes(dim, n_planes, seed)
    powers = (2 ** np.arange(n_planes)).astype(np.int64)

    @pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())  # (batch, dim) — one matmul per batch
        bits = (mat @ planes) > 0
        return pd.Series(bits @ powers)

    return bucket


def ann_lsh_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_candidates: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH MULTI-PROBE candidate filter,
    exact rerank inside the probed buckets.

    Single-bucket probing can answer NOTHING (a 12-plane code over a small
    corpus often puts the query in a singleton bucket), so the probe
    radius is chosen adaptively: one cheap aggregation over the bucket
    codes builds a Hamming-distance histogram relative to the query's
    code, and the smallest radius whose cumulative candidate count ≥ 4k is
    probed — a top-k that can return <k rows only when the corpus itself
    has <k vectors.

    This inline form scans the corpus once PER QUERY (histogram + code
    recomputation) — fine for ad-hoc exploration, wrong for serving. The
    scale path is `lsh_build` + `lsh_search`: the same policy against a
    bucket-partitioned store, where the radius pick is a driver lookup in
    the persisted count table and the candidate fetch is a partition-
    pruned scan. The two return identical rows (tested)."""
    from ..session import ship_package

    ship_package(emb.sparkSession)
    qrow = emb.where(F.col(id_col) == query_vec_id).select(vec_col).collect()
    if not qrow:
        return emb.sparkSession.createDataFrame([], "vec_id long, cos_sim double")
    qv = np.asarray(qrow[0][0], dtype=np.float64)
    dim = len(qv)
    planes = _planes(dim, n_planes)
    powers = (2 ** np.arange(n_planes)).astype(np.int64)
    qcode = int(((qv @ planes) > 0) @ powers)

    bucket = lsh_bucket_udf(dim, n_planes)
    with_b = emb.withColumn("bucket", bucket(F.col(vec_col)))
    hd = F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qcode)))
    hist = {
        int(r["hd"]): int(r["cnt"])
        for r in with_b.groupBy(hd.alias("hd")).agg(F.count("*").alias("cnt")).collect()
    }
    # candidate pool ≥ 10k: LSH codes separate weakly-correlated vectors
    # poorly (a cos≈0.4 "neighbor" sits ~5 Hamming bits away at 12 planes),
    # so a thin pool caps recall; reranking 10k exactly is still ~0.1% of
    # a 10⁷-vector corpus and the ratio holds constant as the corpus grows
    want = max(10 * k, 100, 0 if min_candidates is None else min_candidates) + 1
    acc, radius = 0, n_planes
    for r in range(n_planes + 1):
        acc += hist.get(r, 0)
        if acc >= want:
            radius = r
            break

    q = emb.where(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("qv"))
    cand = with_b.where(hd <= radius).crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("qv")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qv"))
    )
    return (
        cand.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cos_sim"))
        .where(F.col("vec_id") != query_vec_id)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_build(
    emb: DataFrame,
    out_dir: str,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_partition_bits: int = 16,
) -> dict:
    """Materialized hyperplane-LSH store (mirrors `ivf_build`): vectors
    written as parquet PARTITIONED BY their bucket code, with a per-bucket
    count table persisted alongside.

    This is what makes LSH-ANN viable at 10⁹ vectors: the inline
    `ann_lsh_topk` pays a full corpus scan PER QUERY just to pick the
    probe radius (Hamming histogram) and recomputes every vector's code;
    against a store, radius selection is a DRIVER LOOKUP over the count
    table (≤2^n_planes entries, tiny) and the candidate fetch is a
    partition-PRUNED scan that never opens cold buckets
    (PartitionFilters — asserted in tests). The plane set is derived
    from (dim, n_planes, seed) so queries recompute it locally; only the
    counts and layout are stored.

    Directory fan-out is BOUNDED: with n_planes ≤ ``max_partition_bits``
    the layout partitions by the full bucket code (one directory per
    occupied bucket). Beyond that, the partition key is the top
    ``max_partition_bits`` bits of the code (``lsh_prefix``) — at most
    2^max_partition_bits directories regardless of n_planes — and the
    full code travels as a data column, so probes still prune at the
    directory level via the prefix and push the exact bucket filter down
    to parquet row groups. The count table stays exact per full code
    either way."""
    import json as _json

    from ..session import ship_package

    spark = emb.sparkSession
    ship_package(spark)
    dim = len(emb.select(vec_col).first()[0])
    bucket = lsh_bucket_udf(dim, n_planes, seed)
    prefix_bits = min(n_planes, max_partition_bits)
    shift = n_planes - prefix_bits
    coded = emb.withColumn("lsh_bucket", bucket(F.col(vec_col)))
    part_col = "lsh_bucket" if shift == 0 else "lsh_prefix"
    if shift:
        coded = coded.withColumn(
            "lsh_prefix", F.shiftrightunsigned("lsh_bucket", shift)
        )
    (
        coded
        # shuffle on the partition key before the partitioned write: one
        # file per directory instead of one per (task × directory) —
        # without this a 1000-task build over 2^12 buckets writes ~4M
        # tiny files
        .repartition(F.col(part_col))
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(f"{out_dir}/vectors")
    )
    counts = {
        int(r["lsh_bucket"]): int(r["n"])
        for r in spark.read.parquet(f"{out_dir}/vectors")
        .groupBy("lsh_bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    meta = {
        "n_planes": n_planes,
        "seed": seed,
        "dim": dim,
        "prefix_bits": prefix_bits,
        "partition_col": part_col,
        "bucket_counts": {str(b): n for b, n in sorted(counts.items())},
    }
    with open(f"{out_dir}/lsh_meta.json", "w") as f:
        _json.dump(meta, f)
    return meta


def lsh_search(
    spark,
    out_dir: str,
    query_vec: list[float] | np.ndarray,
    k: int = 10,
    min_candidates: int | None = None,
    exclude_vec_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k over a materialized LSH store: the probe radius comes
    from the PERSISTED per-bucket count table (a driver loop over occupied
    buckets — no corpus scan, no per-query code recomputation), then ONE
    pruned partition scan reranks exactly inside the probed buckets.
    Same adaptive-radius policy as `ann_lsh_topk` (cumulative candidates
    ≥ max(10k, 100, min_candidates)), so the two return identical rows on
    the same corpus/planes — tested. Pass min_candidates ≥ corpus size to
    force a full probe, which degenerates to EXACT search (the driver-
    gate oracle trick, same as IVF's n_probe == n_lists)."""
    import json as _json

    with open(f"{out_dir}/lsh_meta.json") as f:
        meta = _json.load(f)
    n_planes, dim, seed = meta["n_planes"], meta["dim"], meta["seed"]
    planes = _planes(dim, n_planes, seed)
    powers = (2 ** np.arange(n_planes)).astype(np.int64)
    qv = np.asarray(query_vec, dtype=np.float64)
    qcode = int(((qv @ planes) > 0) @ powers)

    buckets = np.array([int(b) for b in meta["bucket_counts"]], dtype=np.int64)
    cnts = np.array(list(meta["bucket_counts"].values()), dtype=np.int64)
    hd = np.array([bin(int(b) ^ qcode).count("1") for b in buckets])
    want = max(10 * k, 100, 0 if min_candidates is None else min_candidates)
    want += 0 if exclude_vec_id is None else 1
    acc, radius = 0, n_planes
    for r in range(n_planes + 1):
        acc += int(cnts[hd == r].sum())
        if acc >= want:
            radius = r
            break
    probe = [int(b) for b in buckets[hd <= radius]]

    # directory-level pruning on the partition column; when the store is
    # prefix-partitioned (n_planes > max_partition_bits) the exact bucket
    # filter additionally pushes down to parquet row groups
    shift = n_planes - meta.get("prefix_bits", n_planes)
    cond = F.col("lsh_bucket").isin(probe)
    if shift:
        prefixes = sorted({b >> shift for b in probe})
        cond = F.col("lsh_prefix").isin(prefixes) & cond
    vecs = spark.read.parquet(f"{out_dir}/vectors").where(cond)
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    cos = _dot(F.col(vec_col), qarr) / (_norm(F.col(vec_col)) * _norm(qarr))
    out = vecs.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cos_sim"))
    if exclude_vec_id is not None:
        out = out.where(F.col("vec_id") != exclude_vec_id)
    return out.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (the IVF coarse
    quantizer is a small model — at 100 TB you train it on a ~1M-vector
    sample, which still fits one machine; assignment stays distributed)."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = sample[m].mean(0)
    return cent


def _ivf_quantize(
    emb: DataFrame, n_lists: int, sample_size: int, vec_col: str
) -> tuple[DataFrame, np.ndarray]:
    """The IVF coarse quantizer: k-means on a driver-side sample, then
    `emb` with an `ivf_list` column (each vector's nearest centroid, one
    matmul per Arrow batch). Returns (that frame, centroids)."""
    from ..session import ship_package

    ship_package(emb.sparkSession)
    sample = np.stack(
        [np.asarray(r[0], dtype=np.float64) for r in emb.select(vec_col).limit(sample_size).collect()]
    )
    cent = _kmeans_centroids(sample, n_lists)
    cent_sq = (cent**2).sum(1)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        # argmin ||x-c||² = argmin c·c - 2 x·c
        d = cent_sq[None, :] - 2.0 * (mat @ cent.T)
        return pd.Series(d.argmin(1).astype(np.int32))

    return emb.withColumn("ivf_list", assign(F.col(vec_col))), cent


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 2000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer → per-vector list
    assignment (one matmul per Arrow batch) → exact rerank inside the
    `n_probe` lists nearest to the query. The scan prunes to
    ~n_probe/n_lists of the corpus; at scale the list id becomes a
    partition column so pruning happens at the file level."""
    with_list, cent = _ivf_quantize(emb, n_lists, sample_size, vec_col)
    cent_sq = (cent**2).sum(1)
    qrow = emb.where(F.col(id_col) == query_vec_id).select(vec_col).collect()
    if not qrow:
        return emb.sparkSession.createDataFrame([], "vec_id long, cos_sim double")
    qv = np.asarray(qrow[0][0], dtype=np.float64)
    probe = np.argsort(cent_sq - 2.0 * (cent @ qv))[:n_probe].tolist()
    cand = with_list.where(F.col("ivf_list").isin(probe))
    q = emb.where(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("qv"))
    j = cand.crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("qv")) / (_norm(F.col(vec_col)) * _norm(F.col("qv")))
    return (
        j.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cos_sim"))
        .where(F.col("vec_id") != query_vec_id)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_build(
    emb: DataFrame,
    out_dir: str,
    n_lists: int = 16,
    sample_size: int = 2000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Materialized IVF store: vectors written as parquet PARTITIONED BY
    their coarse-quantizer list id, centroids persisted alongside. This is
    the scale path the inline `ivf_topk` documents: with `ivf_list` as a
    partition column, a query touching n_probe of n_lists lists prunes
    (n_lists - n_probe)/n_lists of the FILES before any IO (PartitionFilters,
    asserted in tests) — at 10⁹ vectors the scan never opens the cold lists."""
    import json as _json

    with_list, cent = _ivf_quantize(emb, n_lists, sample_size, vec_col)
    (
        with_list.write.mode("overwrite")
        .partitionBy("ivf_list")
        .parquet(f"{out_dir}/vectors")
    )
    with open(f"{out_dir}/centroids.json", "w") as f:
        _json.dump({"centroids": cent.tolist()}, f)
    return cent


def ivf_search(
    spark,
    out_dir: str,
    query_vec: list[float] | np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a materialized IVF store: probe-list selection on the
    driver (tiny centroid table), then a pruned partition scan + exact
    cosine rerank."""
    import json as _json

    with open(f"{out_dir}/centroids.json") as f:
        cent = np.asarray(_json.load(f)["centroids"], dtype=np.float64)
    qv = np.asarray(query_vec, dtype=np.float64)
    cent_sq = (cent**2).sum(1)
    probe = np.argsort(cent_sq - 2.0 * (cent @ qv))[:n_probe].tolist()

    vecs = spark.read.parquet(f"{out_dir}/vectors").where(
        F.col("ivf_list").isin(probe)  # partition pruning: cold lists unread
    )
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    cos = _dot(F.col(vec_col), qarr) / (_norm(F.col(vec_col)) * _norm(qarr))
    return (
        vecs.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def pairwise_above_exact(
    emb: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold (vec_a < vec_b) — the
    oracle-checkable twin of `pairwise_above` (which prunes candidates
    with band-OR LSH). O(n²) pairs by construction: use it for small
    corpora and for value-gating the LSH variant; at web scale the pruned
    form is the only viable shape (same relationship as jaccard_pairs vs
    lsh_jaccard_pipeline)."""
    l = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    r = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    cand = l.join(r, F.col("vec_a") < F.col("vec_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return cand.select(
        "vec_a", "vec_b", F.round(cos, 4).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def pairwise_above(
    emb: DataFrame,
    threshold: float,
    n_bands: int = 4,
    band_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate pairs: band-OR LSH candidate generation +
    exact cosine filter (vec_a < vec_b).

    A single plane set misses pairs whose vectors straddle any one plane;
    OR-ing `n_bands` INDEPENDENT plane sets keeps the bucket-join shape
    (never O(n²)) while recall ≈ 1-(1-p^b)^r with p = 1-θ/π — e.g. ~0.99
    for cos≥0.9 pairs at 4×6 planes. Candidates are deduped before the
    exact rerank so each surviving pair is scored once."""
    from ..session import ship_package

    ship_package(emb.sparkSession)
    dim = len(emb.select(vec_col).first()[0])
    band_cols = []
    for band in range(n_bands):
        bucket = lsh_bucket_udf(dim, band_planes, seed=42 + band)
        band_cols.append(
            F.struct(F.lit(band).alias("band"), bucket(F.col(vec_col)).alias("key"))
        )
    wb = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select("vid", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    l, r = wb.alias("l"), wb.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(
            F.col("l.vid").alias("vec_a"),
            F.col("r.vid").alias("vec_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return cand.select(
        "vec_a", "vec_b", F.round(cos, 4).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)
