"""Deduplication operators for large-scale training-data pipelines.

All hot paths are built-in Spark expressions (JVM-side, codegen); the
hashing constants are shared with the DuckDB oracle so every operator is
value-checkable. Scale notes per operator are in the docstrings — the
designs are the standard 100 TB patterns (shingle → minhash → band →
bucket-join; simhash chunk blocking), tested at sf scale.

The wide, loop-generated expression lists (simhash's md5 projection, 60
bit-sum aggregates and 60-term fold; the signatures' md5 base, 24
universal hashes and 24 mins; the band and chunk structs) are Spark SQL
text (``selectExpr`` / ``F.expr``), which the JVM parses in one call, not
Column-API trees. PySpark 4.1's classic Column API wraps every call in
call-site capture (active session, JVM class lookup, conf read, set and
clear origin), ~13 py4j round trips each: building ``simhash`` took
~12,000 round trips and ~1.1 s of driver time before any job started,
against 453 and ~0.12 s as text, with the same physical plan
(tests/test_dedup_plans.py pins both).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..session import ensure_min_partitions
from ..textnorm import FULL_SPLIT_PATTERN
from .hashing import M31, hash_params, md5_long_spark_sql, universal_hash_sql


def _plain_tokens(text: Column) -> Column:
    """Shingle tokenization: lowercase + split + drop empties. (No stop-reset
    segmentation here — shingles for near-dup detection deliberately span
    sentence boundaries.)"""
    return F.filter(F.split(F.lower(text), FULL_SPLIT_PATTERN), lambda t: t != "")


def shingles_col(text: Column, k: int) -> Column:
    """k-token shingles (space-joined sliding windows) over the whole doc.

    Built by zip_with-ing the token array against its own k-1 shifted
    slices — NOT transform(sequence, i -> element_at(toks, i)): a lambda
    that references the tokenizer expression re-evaluates the regex split
    per element (higher-order lambdas get no subexpression elimination),
    turning shingling O(tokens²) per doc. Here the tokenizer is referenced
    only ~2k times per ROW. Incomplete tail windows become NULL (concat
    propagates null, unlike concat_ws) and are filtered."""
    toks = _plain_tokens(text)
    if k == 1:
        return toks
    acc = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(acc, lambda s: s.isNotNull())


# ----------------------------------------------------------- exact dedup --


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5(text): (text_hash, n_docs, keep_doc_id).
    One shuffle; partial agg absorbs any hash skew. Scale: hash-groupBy on
    a 128-bit key is embarrassingly shuffle-parallel at any corpus size."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(F.col(id_col)).alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivor set: the minimum doc_id per exact-text group."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(F.col(id_col)).alias("doc_id"))
        .select("doc_id")
    )


# --------------------------------------------------------------- minhash --


def _shingle_table(
    docs: DataFrame, shingle_k: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, sh) distinct-shingle rows — the shared upstream of every
    minhash/jaccard operator. Redistributes a degenerate input scan first
    (guide §2.5): shingling is the corpus-pass cost, so an unsplittable
    single-row-group corpus must not serialize it on one core."""
    return ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles_col(F.col(text_col), shingle_k))).alias("sh"),
    )


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Shingle rows → (doc_id, mh_0..mh_{H-1}) signature columns.

    One md5 per shingle → H affine universal hashes (cheap int ops, not
    H md5s) → groupBy(doc).min per hash. Min-aggregation has full
    map-side partial combine, so a doc's shingle count never
    concentrates on one task. The md5 base is materialized in its own
    projection so the H hash expressions share ONE md5 evaluation."""
    params = hash_params(num_hashes)
    hashed = sh.selectExpr("doc_id", f"{md5_long_spark_sql('sh')} % {M31} AS bm").selectExpr(
        "doc_id", *[f"{universal_hash_sql('bm', i, params)} AS h{i}" for i in range(num_hashes)]
    )
    return hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS mh_{i}") for i in range(num_hashes)]
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 24,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, mh_0..mh_{H-1}) minhash signature columns."""
    return _signatures_from_shingles(
        _shingle_table(docs, shingle_k, text_col, id_col), num_hashes
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 24,
    bands: int = 6,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 256,
    log_capped: bool = False,
    _shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b): docs sharing ≥1 identical band.

    Band keys are hash-distributed, so the bucket join shuffles on
    (band, key) — no pairwise O(n²) work; only same-bucket docs meet.
    The bucket-size cap is ON by default: a boilerplate-heavy corpus
    makes one band bucket near-clique and its self-join quadratic, so any
    bucket larger than `max_bucket` keeps only a deterministic sample of
    members (ops/skew.cap_buckets) — candidate recall inside a capped
    bucket degrades, which is the standard web-scale trade; buckets under
    the cap (all buckets at oracle scale) are byte-identical to uncapped.
    Pass max_bucket=None for the exact, uncapped join; pass
    log_capped=True to pay one extra aggregation pass and log how many
    buckets/rows the cap actually truncated (skew.capped_bucket_stats),
    so recall loss is a visible metric rather than a silent default."""
    rows = num_hashes // bands
    if _shingles is None:
        _shingles = _shingle_table(docs, shingle_k, text_col, id_col)
    sig = _signatures_from_shingles(_shingles, num_hashes)
    band_structs = ", ".join(
        f"struct({j} AS band, concat_ws('_', "
        + ", ".join(f"mh_{j * rows + r}" for r in range(rows))
        + ") AS key)"
        for j in range(bands)
    )
    banded = sig.selectExpr("doc_id", f"explode(array({band_structs})) AS bk").selectExpr(
        "doc_id", "bk.band AS band", "bk.key AS key"
    )
    if max_bucket is not None:
        from .skew import cap_buckets, capped_bucket_stats

        if log_capped:
            import logging

            stats = capped_bucket_stats(banded, ["band", "key"], max_bucket).collect()[0]
            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: cap_buckets(max_bucket=%d) truncated "
                "%d bucket(s), dropping %d banded row(s)",
                max_bucket,
                stats["n_buckets_capped"],
                stats["n_rows_dropped"],
            )
        banded = cap_buckets(banded, ["band", "key"], max_bucket)
    # materialize before the self-join: Spark does not deduplicate
    # common subtrees, so without this both join sides re-run the whole
    # corpus-pass shingle → md5 → 24-hash → min-agg pipeline (guide §1.2
    # "don't compute things twice"). eager=False is not lazy under AQE:
    # building the checkpoint runs every upstream shuffle stage, one after
    # another, before this function returns (2 of the 5 jobs of a
    # 400-page call start before collect()). Only the stage after the
    # last exchange waits for the first action, which persists it for
    # both join sides; eager=True would run that stage up front as one
    # more job (measured slower on the bench: 4.8 s against 7.3 s).
    banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


# --------------------------------------------------------------- simhash --

SIMHASH_BITS = 60  # stays positive in int64 for both engines


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 60-bit simhash over token md5s weighted by tf.
    Tokens are the index's (``tokens_col``: ignore strings dropped).
    One explode + one groupBy with 60 conditional-sum aggregates — all
    JVM-side, partial-agg friendly. The (doc, token) tf aggregation stays
    deliberately: a per-occurrence ±1 sum would be algebraically equal
    but feeds ~10× the rows into the 60-accumulator aggregate (measured
    2.0 s → 8.1 s on the sf1.0 bench — the tf stage is cheap row
    REDUCTION before the wide aggregate). The token hash is materialized
    in its own projection so the 60 aggregate expressions share one md5
    per row instead of one per bit."""
    toks = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    hb = tf.selectExpr("doc_id", "tf", f"{md5_long_spark_sql('tok')} AS h")
    bit_sums = hb.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN tf ELSE -tf END) AS s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bits = " + ".join(f"CASE WHEN s{j} > 0 THEN {2**j}L ELSE 0L END" for j in range(SIMHASH_BITS))
    return bit_sums.selectExpr("doc_id", f"{bits} AS simhash")


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Blocking: split the 60 bits into (max_hamming+1) chunks — any pair
    within the distance must agree on ≥1 full chunk (pigeonhole), so the
    candidate join is a chunk-equality shuffle join, never O(n²)."""
    n_chunks = max_hamming + 1
    chunk_bits = SIMHASH_BITS // n_chunks
    chunk_structs = ", ".join(
        f"struct({c} AS chunk, shiftright(simhash, {c * chunk_bits}) & {(1 << chunk_bits) - 1} AS ckey)"
        for c in range(n_chunks)
    )
    chunks = simhash(docs, text_col, id_col).selectExpr(
        "doc_id", "simhash", f"explode(array({chunk_structs})) AS ck"
    ).selectExpr("doc_id", "simhash", "ck.chunk AS chunk", "ck.ckey AS ckey")
    # materialize once before the self-join — otherwise both sides re-run
    # the full simhash pipeline (explode + tf + 60-bit agg) over the corpus.
    # As in minhash_lsh_pairs, AQE runs the upstream shuffle stages while
    # the checkpoint is built (2 of 5 jobs start before collect()).
    chunks = chunks.localCheckpoint(eager=False)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ckey") == F.col("r.ckey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.where(hamming <= max_hamming).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


def lsh_jaccard_pipeline(
    docs: DataFrame,
    num_hashes: int = 24,
    bands: int = 6,
    shingle_k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 256,
    log_capped: bool = False,
) -> DataFrame:
    """The scale composition: MinHash-LSH candidate generation → exact
    jaccard rerank computed ONLY for candidate pairs (intersection via two
    shingle joins constrained to candidates). This is the 100 TB shape —
    the all-pairs `jaccard_pairs` below is the exact oracle-checkable
    operator for small inputs. Bucket capping (and its observability via
    log_capped) is inherited from minhash_lsh_pairs (default-on; see its
    docstring)."""
    # ONE shingle pass feeds candidate generation AND the rerank: the
    # shingle table is the corpus-pass cost and is referenced four times
    # downstream (signatures, sizes, both intersection sides), so it is
    # locally checkpointed — without it each reference re-tokenizes and
    # re-shingles the whole corpus (guide §1.2). Neither checkpoint is
    # lazy under AQE: building `cand` runs the signature and band stages,
    # one after another, before this function returns (4 of the 15 jobs
    # of a 400-page call start before collect()).
    sh = _shingle_table(docs, shingle_k, text_col, id_col).localCheckpoint(
        eager=False
    )
    cand = minhash_lsh_pairs(
        docs, num_hashes, bands, shingle_k, text_col, id_col,
        max_bucket=max_bucket, log_capped=log_capped, _shingles=sh,
    ).localCheckpoint(eager=False)  # referenced 3× below (two semi filters + the join)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # semi-join pre-filter (guide §3.2): only CANDIDATE docs' shingles
    # matter to the intersection, and candidates are a tiny fraction of
    # the corpus — without the filter the (doc_b, sh) join drags the
    # FULL shingle table through a sort-merge exchange. Inner joins
    # against cand downstream restrict to the same docs, so results are
    # unchanged.
    sh_a = sh.join(
        cand.select(F.col("doc_a").alias("doc_id")).distinct(),
        "doc_id", "leftsemi",
    ).select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = sh.join(
        cand.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id", "leftsemi",
    ).select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id)
    with cluster_id = min doc_id of the component (the canonical survivor).

    Each round does min-label propagation over edges PLUS a pointer-
    doubling shortcut (every node also jumps to its current label's label),
    which halves the remaining path length per round — convergence is
    O(log(diameter)) rounds even on long revision chains, where plain
    propagation needs O(eccentricity). Rounds are O(|E|) shuffles;
    near-dup components are small (boilerplate cliques, short chains), so
    2-4 rounds is typical. localCheckpoint per round truncates the lineage
    so plans don't grow exponentially. If the loop exhausts
    `max_iterations` without converging the result would be silently
    wrong, so it raises instead.

    Docs that appear in no pair are their own cluster — join survivors
    back against the corpus if singleton rows are needed."""
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("cluster_id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer doubling: labels are always node ids present in the label
        # table, so each node can jump straight to its label's own label
        parent = labels.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("parent_label"),
        )
        new_labels = (
            propagated.join(parent, "cluster_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("parent_label", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iterations} rounds; "
            "raise max_iterations (components deeper than "
            f"2^{max_iterations} hops are implausible for near-dup graphs)"
        )
    return labels


# ------------------------------------------------------- n-gram jaccard --


def jaccard_pairs(
    docs: DataFrame,
    shingle_k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    intersection via shingle self-join (shuffle on shingle hash — head
    shingles behave like head terms, bounded by distinct-per-doc), sizes
    via per-doc distinct counts, jaccard = |∩| / (|A|+|B|-|∩|).
    At 100 TB this runs AFTER minhash-LSH candidate pruning; standalone
    form here is the exact oracle-checkable operator."""
    # one shingle pass shared by sizes + both self-join sides (see
    # lsh_jaccard_pipeline)
    sh = _shingle_table(docs, shingle_k, text_col, id_col).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    common = (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")
