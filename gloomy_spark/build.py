"""Distributed inverted-index build pipeline (SPIMI re-expressed Spark-first).

Dataflow (each stage is a resumable checkpoint, per SURVEY.md §3.1):

    pages/docs ──extract──▶ docs/        (doc_id, url, doclen, lang)
        │
        └─tokenize──▶ postings_raw/      (term, doc_id, tf, dl, positions)
                          │                 one shuffle: groupBy(term, doc_id)
                          ├──▶ terms/    (term, term_id, df, cf, idf)
                          │                 partial-agg groupBy(term) — the
                          │                 map-side combine IS the salted
                          │                 two-phase agg for head terms
                          └──▶ segments/bucket=K/   per term-range bucket:
                                broadcast dict join → EXPLICIT df-tiled
                                hash shuffle (no sampling pass, no JVM
                                sort operator) → vectorized block writer
                                (numpy radix partition sort, delta+varint,
                                per-block max_score: BM25 upper bound)

Scale notes (designed for 10^12 docs / 1000 executors, tested on local[32]):
- groupBy(term, doc_id) keys are high-cardinality → no skew;
- per-term global work (df/cf) relies on partial aggregation, which bounds
  any partition's state by |vocab seen in partition|, not by posting count —
  the head term "the" never concentrates on one task;
- segment writing partitions EXPLICITLY from the dictionary (per-term df
  is already known, so no RangePartitioner sampling job): terms tile into
  ~equal posting chunks and a head term's postings split into doc-range
  sub-chunks over MANY partitions, each emitting doc-sorted blocks for
  its own doc slice — globally docID-sorted runs without any single-task
  merge (the k-way merge of ngramlistLarge.go becomes a hash shuffle +
  per-partition numpy radix sort in the writer);
- term-range build buckets give crash-safe resume: each bucket commits its
  parquet dir then appends a ledger line; restart prunes completed buckets
  before any scan work.
"""

from __future__ import annotations

import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codecs import (
    encode_posting_block,
    flat_delta_positions,
    varint_encode_with_offsets,
)
from .config import DEFAULT_CONFIG, EngineConfig
from .corpus import extract_text
from .functions.text import tokens_col
from .index_store import BucketRecord, IndexStore, Manifest
from .query.kernel import bm25_scores
from .session import ensure_min_partitions

# below this row count, dictionary id assignment happens driver-side (one
# collect) instead of the 3-job distributed zipWithIndex pattern
_DRIVER_ID_LIMIT = 2_000_000
# per-bucket vocab slice above which the segment shuffle falls back from
# the driver-tiled explicit partitioner to repartitionByRange (a 5M-term
# (id, df) slice is ~80 MB on the driver — comfortably under budget)
_PARTITIONER_DICT_LIMIT = 5_000_000
# Arrow batch rows for the INVERTER stage only (doc rows in, heavy numpy
# per batch). Small batches pipeline JVM tokenization with python
# inversion and keep the sort keys cache-resident; measured at 300k docs /
# 4 cores: 1M-row batches 32 s, 30k 18-23 s, 10k 13 s, 4k 10.3 s, 2k
# 10.4 s (knee ≈ 4k ≈ 1M tokens at avgdl 240).
_INVERTER_BATCH_ROWS = 4096
# floor on postings per segment-writer chunk: the dictionary tiler targets
# bucket_postings/(shuffle_partitions*4) postings per chunk, which for
# small buckets degenerates into hundreds of near-empty grouped-python
# tasks (~90 ms protocol overhead each, guide §2.2 "fewer, larger
# partitions"). Chunk count therefore derives from data volume: at 100 TB
# the slot-based target is far above this floor and the tiling is
# unchanged.
_SEGMENT_CHUNK_MIN_POSTINGS = 1 << 18
# Build-scoped session confs, RESTORED on exit: leaking 32 MB splits into
# the caller's session taxed every later scan with 4× the tasks (the
# round-3 32-core bench suite regression — mixed build+query sessions paid
# task-launch overhead on queries that never asked for small splits).
#
# - arrow.maxRecordsPerBatch 1M: the writer/inverter do O(1) python work
#   per batch, so 10k-row default batches = 8000 needless round trips at
#   80M postings; 1M rows ≈ 40 MB.
# - files.maxPartitionBytes 32 MB: the corpus and postings_raw scans feed
#   the two python-heavy stages, and the default 128 MB split gives a
#   300 MB input only ~5 tasks — 1.5 scheduling waves with a straggler
#   tail. 32 MB keeps every core fed; at 100 TB the same setting yields
#   ~3M splits, the normal regime for a 1000-executor cluster.
# - arrow.pyspark.enabled: createDataFrame(pandas) feeds the terms write
#   and the per-bucket tiling dims; the pickle path materializes them as a
#   defaultParallelism-slice python RDD, and a coalesce(1) write then pays
#   one python-worker round trip PER SLICE sequentially — measured 5.8 s
#   to write a 31-row terms table vs 0.2 s over Arrow (guide §6 "Arrow for
#   driver transfers").
_BUILD_CONFS = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1000000",
    "spark.sql.files.maxPartitionBytes": "33554432",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


@contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set `confs` on the session for the block, then restore each key's
    earlier value, unsetting keys that were not set (`get(k, None)` is
    None for those; a plain `get` would return the default)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, pv in prev.items():
            if pv is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, pv)

SEGMENT_SCHEMA = (
    "term_id long, doc_bucket long, first_doc long, last_doc long, n_docs int, "
    "max_score double, sum_tf long, docs binary, tfs binary, dls binary, "
    "pos_counts binary, positions binary, part_id int"
)



def extracted_docs(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, ...) → (doc_id, url, text, lang) with the
    PINNED extraction (drop <nav>/<script>, title + every <p>, newline-
    joined) computed entirely JVM-side as Spark regexp expressions —
    property-tested byte-identical to ``corpus.extract_text``. Keeping
    extraction inside whole-stage codegen removes two full-corpus
    crossings of the JVM↔python Arrow boundary per build (extraction was
    the only python hop before the tokenize→invert pipeline).
    ``extracted_docs_udf`` preserves the python path for differential
    testing."""
    cleaned = pages.select(
        "doc_id",
        "url",
        "lang",
        F.regexp_replace(
            F.regexp_replace(
                F.decode(F.col("html"), "UTF-8"), r"(?s)<nav>.*?</nav>", ""
            ),
            r"(?s)<script>.*?</script>",
            "",
        ).alias("_s"),
    )
    title_arr = F.when(
        F.col("_s").rlike(r"(?s)<title>.*?</title>"),
        F.array(F.regexp_extract(F.col("_s"), r"(?s)<title>(.*?)</title>", 1)),
    ).otherwise(F.array().cast("array<string>"))
    body_arr = F.regexp_extract_all(F.col("_s"), F.lit(r"(?s)<p>(.*?)</p>"), 1)
    return cleaned.select(
        "doc_id",
        "url",
        F.concat_ws("\n", F.concat(title_arr, body_arr)).alias("text"),
        "lang",
    )


def extracted_docs_udf(pages: DataFrame) -> DataFrame:
    """Python-UDF form of `extracted_docs` (the pinned reference
    implementation applied per row) — kept for differential tests."""
    from .session import ship_package

    ship_package(pages.sparkSession)

    def ex(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "url": pdf["url"],
                    "text": [extract_text(bytes(h)) for h in pdf["html"]],
                    "lang": pdf["lang"],
                }
            )

    return pages.mapInPandas(ex, "doc_id long, url string, text string, lang string")


def bm25_idf(N: int | F.Column, df: F.Column) -> F.Column:
    """idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — pinned BM25 idf form."""
    n = F.lit(float(N)) if isinstance(N, int) else N
    return F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))


def assign_dense_ids(
    df: DataFrame, order_col: str, id_col: str, num_partitions: int
) -> DataFrame:
    """Dense 0..N-1 ids in lexicographic order WITHOUT a single-partition
    global window (SURVEY.md hard-part #5): range-partition on the order
    column, per-partition row_number, then add per-partition offsets
    computed from a tiny count pass (zipWithIndex pattern).

    Distributed path used above `_DRIVER_ID_LIMIT` rows; below it, one
    collect + createDataFrame is cheaper than three scheduled jobs."""
    n = df.count()
    if n <= _DRIVER_ID_LIMIT:
        rows = df.collect()
        cols = df.columns
        order_idx = cols.index(order_col)
        rows.sort(key=lambda r: r[order_idx])
        spark = df.sparkSession
        out_rows = [(*r, i) for i, r in enumerate(rows)]
        schema = df.schema.add(id_col, "long")
        return spark.createDataFrame(out_rows, schema)
    parted = (
        df.repartitionByRange(num_partitions, order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    out = (
        parted.withColumn(
            id_col,
            (F.row_number().over(w) - 1 + offset_map[F.col("_pid")]).cast("long"),
        )
        .drop("_pid")
    )
    # the persisted input must outlive the (lazy) output; the caller
    # unpersists after materializing (see IndexBuilder terms write)
    out._gloomy_persisted = parted  # type: ignore[attr-defined]
    return out


def _encode_positions_binary(val_bounds: np.ndarray, flat: np.ndarray):
    """Per-posting ascending position lists (flattened, posting boundaries
    at ``val_bounds``, len n+1) → Arrow binary column of per-posting
    delta+varint buffers.

    Byte-compatible with the segment block format: each posting's delta
    sequence starts with its absolute first value, so per-posting spans
    are independent and concatenating consecutive postings' buffers is
    EXACTLY the bulk flat_delta_positions+varint encoding the writer used
    to produce. Encoding at inversion time (not at the segment shuffle)
    moves ~1-2 bytes/position through the shuffle instead of a 4-byte
    array slot — the shuffle is the bandwidth-bound stage at scale."""
    import pyarrow as pa

    n = len(val_bounds) - 1
    if flat.size == 0:
        return pa.array([b""] * n, type=pa.binary())
    deltas = flat.astype(np.int64, copy=True)
    deltas[1:] -= flat[:-1]
    starts = val_bounds[:-1]
    nz = starts[(val_bounds[1:] - starts) > 0]
    deltas[nz] = flat[nz]
    buf, off = varint_encode_with_offsets(deltas)
    byte_off = off[val_bounds].astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(byte_off.tobytes()), pa.py_buffer(buf)],
    )


def _partition_inverter(cfg: EngineConfig):
    """mapInArrow per-partition inversion (the RAMNgramList/SPIMI analog,
    ngramlist.go:79-115, fully vectorized):

        (doc_id, tokens, doclen) → (term, doc_id, tf, dl, positions)

    computed WITHOUT any shuffle: Arrow dictionary_encode (C++ hash,
    O(n)) maps terms to codes, ONE stable radix argsort on a
    (doc-run, code) composite key groups (doc, term) — rows arrive
    doc-grouped with ascending positions, so no further keys are needed —
    run-length boundaries give tf, and positions are emitted PRE-ENCODED
    as per-posting delta+varint binary (see _encode_positions_binary) so
    the segment shuffle moves compressed bytes. No per-posting Python
    objects anywhere. The global merge of these per-partition runs is the
    segment stage's shuffle (Spark's external sort == the reference's
    k-way chunk merge)."""
    store_positions = cfg.store_positions

    def invert(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            toks = batch.column("tokens")
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            values = toks.values  # flat string array
            lens = offsets[1:] - offsets[:-1]
            total = int(lens.sum())
            if total == 0:
                continue
            flat_docs = np.repeat(doc_ids, lens)
            flat_dl = np.repeat(lens, lens)
            starts = offsets[:-1]
            pos_in_doc = (
                np.arange(offsets[0], offsets[0] + total, dtype=np.int64)
                - np.repeat(starts, lens)
            )
            # hash-factorize term strings → int codes, Arrow-native
            # (C++ hash table; no pandas object round trip)
            dict_enc = values.dictionary_encode()
            codes = dict_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniques = dict_enc.dictionary
            # rows arrive grouped by doc (np.repeat over batch rows) and
            # positions ascend within each doc, so ONE stable radix sort
            # on a (doc-run, term-code) composite key replaces the 3-key
            # lexsort — positions stay ascending per group for free
            doc_idx = np.repeat(
                np.arange(n_rows, dtype=np.int64), lens
            )
            n_uniq = np.int64(len(uniques))
            order = np.argsort(doc_idx * n_uniq + codes, kind="stable")
            sc, sd, sp, sl = codes[order], flat_docs[order], pos_in_doc[order], flat_dl[order]
            boundary = np.nonzero((sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1]))[0]
            g_start = np.concatenate(([0], boundary + 1))
            g_end = np.concatenate((boundary + 1, [total]))
            tf = (g_end - g_start).astype(np.int32)

            term_arr = pc.take(uniques, pa.array(sc[g_start], type=pa.int64()))
            cols = [
                term_arr,
                pa.array(sd[g_start], type=pa.int64()),
                pa.array(tf, type=pa.int32()),
                pa.array(sl[g_start].astype(np.int32), type=pa.int32()),
            ]
            names = ["term", "doc_id", "tf", "dl"]
            if store_positions:
                # pre-encoded per-posting delta+varint buffers: the segment
                # shuffle then moves compressed bytes, and the block writer
                # concatenates buffers instead of re-encoding
                val_bounds = np.concatenate((g_start, [total])).astype(np.int64)
                cols.append(
                    _encode_positions_binary(val_bounds, sp.astype(np.int64))
                )
                names.append("positions")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return invert


POSTINGS_SCHEMA = "term string, doc_id long, tf int, dl int, positions binary"
POSTINGS_SCHEMA_NOPOS = "term string, doc_id long, tf int, dl int"

# Segment-writer in-memory sort bounds (see _segment_writer): one shuffle
# partition must fit worker RAM and its binary payloads must fit Arrow
# int32 offsets. Module-level so tests can shrink them to exercise the
# loud-failure path without 10^8-row fixtures.
_SEGMENT_PARTITION_MAX_ROWS = 1 << 27            # ~134M postings/partition
_SEGMENT_PARTITION_MAX_POS_BYTES = (1 << 31) - (1 << 20)  # int32 ceiling


def _segment_writer(cfg: EngineConfig, avgdl: float):
    """mapInArrow writer: one shuffle partition of (term_id, doc_id, tf,
    dl, idf, positions) rows → posting blocks.

    The partition is materialized and sorted HERE with a numpy radix
    lexsort on (term_id, doc_id) — roughly an order of magnitude cheaper
    than the JVM comparison sort a sortWithinPartitions plan node runs on
    UnsafeRows — so the segment exchange is a plain hash shuffle with NO
    sort operator. Memory is bounded by the dictionary tiling: each
    explicit chunk targets bucket_postings/(shuffle_parts·4) postings
    (size cfg.shuffle_partitions so a chunk fits executor memory — the
    same working-set bound Spark's external sort needs to avoid
    spilling). Vectorized per block; the only Python-level loop is over
    blocks (n/block_size), never over postings."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    block = cfg.block_size
    bucket_width = cfg.doc_bucket_width
    store_positions = cfg.store_positions

    def write(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1

        # ---- materialize the partition ---------------------------------
        # The numpy sort below replaces Spark's spillable external sort, so
        # one shuffle partition MUST fit in python-worker RAM and every
        # output binary column's byte offsets MUST fit int32 (Arrow
        # `binary`). Both are bounded here LOUDLY: silent int32 wraparound
        # would corrupt the index; an unbounded materialize would die as an
        # opaque OOM. Worst-case varint is 10 B/posting, so the row bound
        # keeps every derived buffer < 2^31; the payload bound caps the
        # position bytes directly.
        MAX_ROWS = _SEGMENT_PARTITION_MAX_ROWS
        MAX_POS_BYTES = _SEGMENT_PARTITION_MAX_POS_BYTES

        def _partition_overflow(kind: str, have: int, bound: int) -> ValueError:
            return ValueError(
                f"segment writer partition {pid} exceeds the in-memory "
                f"sort bound: {kind}={have} > {bound}. Raise "
                "cfg.shuffle_partitions (or narrow the dictionary tiling "
                "width) so each shuffle partition carries fewer postings — "
                "failing loudly here instead of writing a corrupt index "
                "or OOMing opaquely."
            )

        n_rows_acc = 0
        pos_bytes_acc = 0
        tid_l, did_l, tf_l, dl_l, idf_l = [], [], [], [], []
        plen_l, pdata_l = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            n_rows_acc += batch.num_rows
            if n_rows_acc > MAX_ROWS:
                raise _partition_overflow("rows", n_rows_acc, MAX_ROWS)
            for col, acc, dt in (
                ("term_id", tid_l, np.int64),
                ("doc_id", did_l, np.int64),
                ("tf", tf_l, np.int64),
                ("dl", dl_l, np.int64),
                ("idf", idf_l, np.float64),
            ):
                acc.append(
                    np.asarray(
                        batch.column(col).to_numpy(zero_copy_only=False),
                        dtype=dt,
                    )
                )
            if store_positions and batch.schema.get_field_index("positions") >= 0:
                pos_col = batch.column("positions")
                if isinstance(pos_col, pa.ChunkedArray):
                    pos_col = pos_col.combine_chunks()
                offs = np.frombuffer(pos_col.buffers()[1], dtype=np.int32)[
                    pos_col.offset : pos_col.offset + len(pos_col) + 1
                ].astype(np.int64)
                dbuf = pos_col.buffers()[2]
                data = (
                    np.frombuffer(dbuf, dtype=np.uint8)[offs[0] : offs[-1]]
                    if dbuf is not None
                    else np.zeros(0, np.uint8)
                )
                plen_l.append(np.diff(offs))
                pdata_l.append(np.ascontiguousarray(data))
                pos_bytes_acc += int(data.nbytes)
                if pos_bytes_acc > MAX_POS_BYTES:
                    raise _partition_overflow(
                        "position_bytes", pos_bytes_acc, MAX_POS_BYTES
                    )
        if not tid_l:
            return
        term_id = np.concatenate(tid_l)
        doc_id = np.concatenate(did_l)
        tf = np.concatenate(tf_l)
        dl = np.concatenate(dl_l)
        idf = np.concatenate(idf_l)
        n = len(term_id)

        # ---- the partition sort (replaces Spark sortWithinPartitions) --
        order = np.lexsort((doc_id, term_id))
        term_id, doc_id, tf, dl, idf = (
            term_id[order], doc_id[order], tf[order], dl[order], idf[order],
        )
        has_pos = bool(plen_l)
        if has_pos:
            plen = np.concatenate(plen_l)
            pdata = (
                np.concatenate(pdata_l) if pdata_l else np.zeros(0, np.uint8)
            )
            pstart = np.concatenate(([0], np.cumsum(plen)))[:-1]
            sel = plen[order]
            tot = int(sel.sum())
            # varlen gather: move each posting's byte span to sorted order
            head = np.concatenate(([0], np.cumsum(sel)))[:-1]
            intra = np.arange(tot, dtype=np.int64) - np.repeat(head, sel)
            pdata = pdata[np.repeat(pstart[order], sel) + intra]
            offs = np.concatenate(([0], np.cumsum(sel))).astype(np.int64)

        doc_bucket = doc_id // bucket_width
        score = bm25_scores(tf, dl, idf, k1, b, avgdl)

        # ---- block boundaries: new (term_id, doc_bucket) group, or a
        # multiple of `block` postings within a group (all vectorized)
        new_group = np.ones(n, dtype=bool)
        new_group[1:] = (term_id[1:] != term_id[:-1]) | (
            doc_bucket[1:] != doc_bucket[:-1]
        )
        g_start = np.nonzero(new_group)[0]
        within = np.arange(n, dtype=np.int64) - np.repeat(
            g_start, np.diff(np.concatenate((g_start, [n])))
        )
        is_block_start = new_group | (within % block == 0)
        b_start = np.nonzero(is_block_start)[0]
        b_end = np.concatenate((b_start[1:], [n]))

        # ---- bulk varint encodings, sliced per block by byte offsets
        deltas = doc_id.copy()
        deltas[1:] -= doc_id[:-1]
        deltas[b_start] = doc_id[b_start]  # first-of-block absolute
        docs_all, docs_off = varint_encode_with_offsets(deltas)
        tfs_all, tfs_off = varint_encode_with_offsets(tf)
        dls_all, dls_off = varint_encode_with_offsets(dl)

        # blocks tile [0, n): per-block byte spans are contiguous, so
        # binary columns come ZERO-COPY from (block offsets, data buffer)
        blk_bounds = np.append(b_start, n)

        def slices(buf: bytes, off: np.ndarray) -> "pa.Array":
            bo = off[blk_bounds].astype(np.int32)
            return pa.Array.from_buffers(
                pa.binary(),
                len(b_start),
                [None, pa.py_buffer(bo.tobytes()), pa.py_buffer(buf)],
            )

        if has_pos:
            # pos_counts == per-posting position counts == tf (every
            # occurrence carries exactly one position), so the tfs
            # encoding IS the pos_counts encoding — reuse the buffer
            # instead of re-encoding the same array (one of four bulk
            # varint passes, ~12% of the writer's python time). Block
            # position payloads are contiguous slices of the sorted
            # data buffer.
            pos_counts_arr = slices(tfs_all, tfs_off)
            positions_arr = pa.Array.from_buffers(
                pa.binary(),
                len(b_start),
                [
                    None,
                    pa.py_buffer(offs[blk_bounds].astype(np.int32).tobytes()),
                    pa.py_buffer(pdata),
                ],
            )
        else:
            empty = pa.array([b""] * len(b_start), type=pa.binary())
            pos_counts_arr, positions_arr = empty, empty

        # ---- per-block stats via reduceat (no Python per-block math)
        max_score = np.maximum.reduceat(score, b_start)
        sum_tf = np.add.reduceat(tf, b_start)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(term_id[b_start], type=pa.int64()),
                pa.array(doc_bucket[b_start], type=pa.int64()),
                pa.array(doc_id[b_start], type=pa.int64()),
                pa.array(doc_id[b_end - 1], type=pa.int64()),
                pa.array((b_end - b_start).astype(np.int32), type=pa.int32()),
                pa.array(max_score, type=pa.float64()),
                pa.array(sum_tf, type=pa.int64()),
                slices(docs_all, docs_off),
                slices(tfs_all, tfs_off),
                slices(dls_all, dls_off),
                pos_counts_arr,
                positions_arr,
                pa.array(np.full(len(b_start), pid, dtype=np.int32), type=pa.int32()),
            ],
            names=[
                "term_id", "doc_bucket", "first_doc", "last_doc", "n_docs",
                "max_score", "sum_tf", "docs", "tfs", "dls", "pos_counts",
                "positions", "part_id",
            ],
        )

    return write


class IndexBuilder:
    """Builds a block-compressed inverted index at `index_dir`.

    Reference parity: build lifecycle of gloomy `create-index`
    (index/builder/builder.go:215-240), re-architected per SURVEY.md §3.1.
    """

    def __init__(self, spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG):
        from .session import ship_package

        self.spark = spark
        self.cfg = cfg
        ship_package(spark)

    def build(
        self,
        docs: DataFrame,
        index_dir: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        url_col: str | None = None,
        lang_col: str | None = None,
        attr_cols: list[str] | None = None,
        n_buckets: int = 4,
        resume: bool = True,
        input_snapshot: str = "",
        ngram_size: int = 1,
        min_term_freq: int = 1,
        term_filter=None,
        verify_unique_doc_ids: bool = False,
        attr_rollup_cols: list[str] | None = None,
        fail_after_bucket: int | None = None,  # test hook for resume tests
    ) -> Manifest:
        """Build a block-compressed index.

        ngram_size > 1 indexes n-gram terms (the reference's native mode —
        its whole store is an n-gram database); stop-string window resets
        apply inside the n-gram former. min_term_freq mirrors the
        reference's minNgramFreq HAVING filter (builder.go:199).
        term_filter is the custom-filter hook (filter.go:34 .so plugin →
        a Column-predicate callable, JVM-side when built from builtins).
        attr_cols are extra per-document attributes (e.g. a vertical
        corpus's `doc.file`, conf-sample.json args → metadata.go:25-28)
        kept in the docs dimension; every n-gram hit recovers them via the
        broadcast metadata join (with_doc_metadata) — the dictionary-
        encoded analog of the reference's per-record args columns."""
        with _session_confs(self.spark, _BUILD_CONFS):
            cfg = self.cfg
            store = IndexStore(index_dir)
            store.ensure_dirs()
            store.save_config(cfg)
            t0 = time.time()
            stages: dict[str, float] = {}
            shuffle_parts = cfg.shuffle_partitions

            attr_cols = attr_cols or []
            base = docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.col(text_col).alias("text"),
                *( [F.col(url_col).alias("url")] if url_col else [F.lit(None).cast("string").alias("url")] ),
                *( [F.col(lang_col).alias("lang")] if lang_col else [F.lit(None).cast("string").alias("lang")] ),
                *[F.col(a) for a in attr_cols],
            )

            # --------------------------------------------------------- tokens/
            # Tokenize EXACTLY ONCE and materialize: explode(generator_expr)
            # re-evaluates the generator expression per emitted element, so
            # feeding posexplode an inline regex-tokenizer is O(tokens²)/doc.
            # A stored token array costs one transient parquet but makes every
            # downstream stage a cheap column scan. (Transient; removable after
            # build.)
            from .functions.text import ngrams_col

            term_expr = (
                tokens_col(F.col("text"), cfg)
                if ngram_size <= 1
                else ngrams_col(F.col("text"), ngram_size, cfg)
            )
            if term_filter is not None:
                term_expr = F.filter(term_expr, term_filter)

            # -------------------------------------------------- postings_raw/
            # ONE corpus pass: JVM tokenization feeds the Arrow partition
            # inverter directly (mapInArrow consumes each row once, so the
            # tokenizer expression is evaluated exactly once per doc — unlike
            # explode(generator), which re-evaluates per element)
            postings_path = os.path.join(index_dir, "postings_raw")
            if not (resume and os.path.exists(os.path.join(postings_path, "_SUCCESS"))):
                schema = (
                    POSTINGS_SCHEMA if cfg.store_positions else POSTINGS_SCHEMA_NOPOS
                )
                # the inverter wants SMALL doc-row batches (see
                # _INVERTER_BATCH_ROWS: JVM/python pipelining +
                # cache-resident sort keys — 3× the stage throughput vs the
                # build-wide 1M-row setting, which stays in force for the
                # posting-row writer stage where it was measured to win)
                with _session_confs(self.spark, {
                    "spark.sql.execution.arrow.maxRecordsPerBatch":
                        str(_INVERTER_BATCH_ROWS),
                }):
                    # degenerate-input parallelism guard: a corpus stored as
                    # a single parquet row group yields ONE scan partition,
                    # serializing tokenize+invert on one core (measured 7.96 s
                    # → the whole stage single-task at local[32] on the sf1.0
                    # fixture). Redistributing the raw (doc_id, text) rows
                    # also gives postings_raw enough files for the downstream
                    # dict/segment scans to parallelize.
                    src = ensure_min_partitions(base.select("doc_id", "text"))
                    (
                        src.select(F.col("doc_id"), term_expr.alias("tokens"))
                        .mapInArrow(_partition_inverter(cfg), schema)
                        .write.mode("overwrite")
                        .parquet(postings_path)
                    )
            stages["postings"] = round(time.time() - t0, 2)
            postings = self.spark.read.parquet(postings_path)

            # ---------------------------------------------------------- docs/
            # doc dimension: url/lang from the corpus, doclen recovered from
            # postings (docs with zero surviving tokens get doclen 0).
            # Runs in a HELPER THREAD concurrently with the dictionary
            # aggregation below (guide §2.6 "overlap independent jobs"): both
            # stages read postings_raw and neither depends on the other, so
            # the docs write's task tail backfills the dict agg's idle slots.
            stat_aggs = [
                F.count("*").alias("n"),
                F.avg("doclen").alias("avgdl"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            ]
            if verify_unique_doc_ids:
                # exact hash-collision check (see sources/pages.py collision
                # budget): count(*) already in the agg, so one extra distinct
                # pass over the 8-byte id column makes a ~10⁻⁴-probability
                # silent url merge a LOUD build failure instead
                stat_aggs.append(F.countDistinct("doc_id").alias("n_distinct"))

            def _docs_stage():
                st = time.time()
                if not (resume and store.stage_done("docs")):
                    dls = postings.groupBy("doc_id").agg(
                        F.first("dl").alias("doclen")
                    )
                    (
                        base.select("doc_id", "url", "lang", *attr_cols)
                        .join(dls, "doc_id", "left")
                        .select(
                            "doc_id", "url", "lang",
                            F.coalesce("doclen", F.lit(0)).cast("int").alias("doclen"),
                            *attr_cols,
                        )
                        .write.mode("overwrite")
                        .parquet(store.docs_path)
                    )
                stats_df = self.spark.read.parquet(store.docs_path)
                row = stats_df.agg(*stat_aggs).collect()[0]
                return stats_df, row, round(time.time() - st, 2)

            # stage-overlap pool of ONE thread: the docs stage overlaps the
            # dictionary aggregation (pool thread + main thread), and segment
            # buckets run one at a time. An interleaved A/B on the bench
            # corpora measured 2-in-flight buckets a wash on the small build
            # and a consistent loss with heavy outliers on the 4M-posting one
            # (medians 15.1 s vs 8.5 s — two concurrent python-heavy writer
            # jobs thrash the python worker pool at local core counts).
            pool = ThreadPoolExecutor(max_workers=1)
            docs_future = pool.submit(_docs_stage)

            # ---------------------------------------------------------- terms/
            # dict_pdf: driver-resident (term, term_id, df, cf, idf) when the
            # vocabulary is driver-sized — reused for segment-shuffle tiling
            # and bucket metrics so those stages cost zero extra Spark jobs.
            # The df/cf aggregation + bounded collect run on the MAIN thread
            # while the docs stage runs in the pool; the idf computation and
            # the terms write wait below for n_docs from the docs stats.
            t_terms = time.time()
            dict_pdf: pd.DataFrame | None = None
            head = None
            dict_df = None
            terms_todo = not (resume and store.stage_done("terms"))
            if terms_todo:
                dict_df = postings.groupBy("term").agg(
                    F.count("*").cast("long").alias("df"),
                    F.sum("tf").cast("long").alias("cf"),
                )
                if min_term_freq > 1:
                    # reference minNgramFreq HAVING filter (builder.go:199);
                    # postings of dropped terms vanish at the bucket dict-join
                    dict_df = dict_df.where(F.col("cf") >= min_term_freq)
                # bounded-collect probe: ONE job computes the 40M-row agg AND
                # fetches the vocab when it is driver-sized (the common case
                # even for web corpora — vocabularies are millions of terms,
                # not billions); oversized vocabs take the distributed
                # zipWithIndex path below
                head = dict_df.limit(_DRIVER_ID_LIMIT + 1).collect()
            terms_head_sec = round(time.time() - t_terms, 2)

            docs_stats, agg, docs_sec = docs_future.result()
            stages["docs"] = docs_sec
            if verify_unique_doc_ids and int(agg["n_distinct"]) != int(agg["n"]):
                raise ValueError(
                    f"doc_id collision: {int(agg['n'])} docs but only "
                    f"{int(agg['n_distinct'])} distinct doc_ids — two input "
                    "documents hash to the same 64-bit id (see "
                    "sources/pages.py collision budget). Deduplicate inputs "
                    "or derive ids from a wider hash."
                )
            n_docs, avgdl = int(agg["n"]), float(agg["avgdl"])

            # --------------------------------------------------- attr_rollup/
            # optional (term, attrs…, count) table — search-result Args paid
            # at BUILD time like the reference (builder.go:130-139 groups
            # n-grams by their metadata while counting). Queries then answer
            # term_attr_counts from a term-pushed-down scan of this table,
            # O(result) instead of O(postings of term) — the difference
            # between a head term and a full posting decode at 10¹² docs.
            # Range-partitioned + sorted by term so the isin filter prunes to
            # a few row groups.
            if attr_rollup_cols:
                ar0 = time.time()
                roll_cols = [c for c in attr_rollup_cols if c in docs_stats.columns]
                if not roll_cols:
                    raise ValueError(
                        f"attr_rollup_cols {attr_rollup_cols} — none present in "
                        f"the docs dimension ({docs_stats.columns})"
                    )
                if not (resume and store.stage_done("attr_rollup")):
                    (
                        postings.select("term", "doc_id", "tf")
                        .join(docs_stats.select("doc_id", *roll_cols), "doc_id")
                        .groupBy("term", *roll_cols)
                        .agg(F.sum("tf").cast("long").alias("count"))
                        .repartitionByRange(shuffle_parts, "term")
                        .sortWithinPartitions("term")
                        .write.mode("overwrite")
                        .parquet(store.attr_rollup_path)
                    )
                stages["attr_rollup"] = round(time.time() - ar0, 2)
            min_doc = int(agg["min_doc"]) if agg["min_doc"] is not None else 0
            max_doc = int(agg["max_doc"]) if agg["max_doc"] is not None else 0

            t_terms2 = time.time()
            if terms_todo:
                if len(head) <= _DRIVER_ID_LIMIT:
                    dict_pdf = pd.DataFrame(
                        {
                            "term": [r["term"] for r in head],
                            "df": np.array([r["df"] for r in head], np.int64),
                            "cf": np.array([r["cf"] for r in head], np.int64),
                        }
                    ).sort_values("term", ignore_index=True)
                    dict_pdf["term_id"] = np.arange(len(dict_pdf), dtype=np.int64)
                    # literal log(1 + x), mirroring bm25_idf, so driver- and
                    # JVM-computed idf stay bit-identical
                    dfv = dict_pdf["df"].to_numpy(np.float64)
                    dict_pdf["idf"] = np.log(
                        1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5)
                    )
                    (
                        self.spark.createDataFrame(
                            dict_pdf[["term", "term_id", "df", "cf", "idf"]],
                            "term string, term_id long, df long, cf long, idf double",
                        )
                        .coalesce(1)
                        .write.mode("overwrite")
                        .parquet(store.terms_path)
                    )
                else:
                    # materialize once: assign_dense_ids counts it and the
                    # write scans it again
                    dict_df = dict_df.localCheckpoint()
                    dict_df = assign_dense_ids(
                        dict_df, "term", "term_id", shuffle_parts
                    )
                    try:
                        (
                            dict_df.withColumn(
                                "idf", bm25_idf(n_docs, F.col("df"))
                            )
                            .select("term", "term_id", "df", "cf", "idf")
                            .write.mode("overwrite")
                            .parquet(store.terms_path)
                        )
                    finally:
                        # release the cache assign_dense_ids pinned for offsets
                        dep = getattr(dict_df, "_gloomy_persisted", None)
                        if dep is not None:
                            dep.unpersist()
            terms = self.spark.read.parquet(store.terms_path)
            n_terms = len(dict_pdf) if dict_pdf is not None else terms.count()
            stages["terms"] = round(
                terms_head_sec + (time.time() - t_terms2), 2
            )

            # ------------------------------------------------ segments/bucket=K
            width = max(1, math.ceil(n_terms / n_buckets))
            done = store.completed_buckets() if resume else {}
            writer = _segment_writer(cfg, avgdl)
            total_postings = 0
            t_segs = time.time()
            ledger_lock = threading.Lock()

            def _bucket_job(k: int, lo: int, hi: int) -> int:
                bt0 = time.time()
                bt_pdf = None
                pos_cols = ["positions"] if "positions" in postings.columns else []
                if hi - lo <= _PARTITIONER_DICT_LIMIT:
                    # dictionary-driven EXPLICIT partitioning: per-term posting
                    # counts (df) are already known, so the segment shuffle
                    # needs no repartitionByRange — whose RangePartitioner runs
                    # a sampling job that recomputes the ENTIRE postings⨝dict
                    # projection once more just to learn a distribution the
                    # dictionary already states. Terms are tiled into ~equal
                    # posting chunks in term_id order; a term straddling a
                    # chunk boundary splits into doc_id RANGE sub-chunks
                    # (width_bucket over [min_doc, max_doc] — doc ids are
                    # sequential or 64-bit hashes, i.e. ~uniform), so per-term
                    # blocks stay globally doc-sorted and non-overlapping and
                    # a head term ("the" ≈ every doc) spreads over many
                    # partitions (explicit skew handling, north rule).
                    if dict_pdf is not None:
                        # dictionary already driver-resident: zero extra jobs
                        bt_pdf = dict_pdf.iloc[lo:hi][
                            ["term", "term_id", "idf", "df"]
                        ].reset_index(drop=True)
                    else:
                        bt_pdf = (
                            terms.where(
                                (F.col("term_id") >= lo) & (F.col("term_id") < hi)
                            )
                            .select("term", "term_id", "idf", "df")
                            .toPandas()
                            .sort_values("term_id", ignore_index=True)
                        )
                    df_arr = bt_pdf["df"].to_numpy(np.int64)
                    cum = np.concatenate(([0], np.cumsum(df_arr)))
                    # ~4 chunks per partition slot: fine chunks bound the
                    # straggler a hash collision of two chunks can create.
                    # Floored by _SEGMENT_CHUNK_MIN_POSTINGS so chunk count is
                    # data-derived: without the floor a small bucket tiles
                    # into shuffle_parts*4 near-empty chunks, each paying a
                    # full grouped-python task launch (guide §2.2) — measured
                    # 256 tasks for ~0.6M postings/bucket on the sf1.0 bench.
                    target = max(
                        1,
                        int(-(-int(cum[-1]) // (shuffle_parts * 4))),
                        _SEGMENT_CHUNK_MIN_POSTINGS,
                    )
                    bt_pdf["pid_base"] = (cum[:-1] // target).astype(np.int32)
                    bt_pdf["n_splits"] = (
                        (cum[1:] - 1) // target - cum[:-1] // target + 1
                    ).astype(np.int32)
                    n_pids = int((cum[-1] - 1) // target + 1) if cum[-1] else 1
                    dim = self.spark.createDataFrame(
                        bt_pdf[["term", "term_id", "pid_base", "n_splits"]]
                    )
                    # idf is a per-TERM value: re-attach it AFTER the shuffle
                    # with a second broadcast join so the exchange moves 8
                    # fewer bytes per posting row
                    idf_dim = self.spark.createDataFrame(
                        bt_pdf[["term_id", "idf"]]
                    )
                    joined = postings.join(F.broadcast(dim), "term")
                    pid = F.col("pid_base") + F.when(
                        F.col("n_splits") > 1,
                        F.width_bucket(
                            F.col("doc_id"),
                            F.lit(min_doc),
                            F.lit(max_doc + 1),
                            F.col("n_splits"),
                        ) - 1,
                    ).otherwise(F.lit(0))
                    segs = (
                        joined.withColumn("_pid", pid.cast("int"))
                        .select("term_id", "doc_id", "tf", "dl", *pos_cols, "_pid")
                        .repartition(n_pids, F.col("_pid"))
                        .join(F.broadcast(idf_dim), "term_id")
                        .select("term_id", "doc_id", "tf", "dl", "idf", *pos_cols)
                        .mapInArrow(writer, SEGMENT_SCHEMA)
                    )
                else:
                    # vocabulary slice too large for a driver-side tiling —
                    # fall back to the sampling range shuffle
                    bucket_terms = terms.where(
                        (F.col("term_id") >= lo) & (F.col("term_id") < hi)
                    ).select("term", "term_id", "idf")
                    joined = postings.join(F.broadcast(bucket_terms), "term").select(
                        "term_id", "doc_id", "tf", "dl", "idf", *pos_cols
                    )
                    segs = (
                        joined.repartitionByRange(shuffle_parts, "term_id", "doc_id")
                        .mapInArrow(writer, SEGMENT_SCHEMA)
                    )
                segs.write.mode("overwrite").parquet(store.bucket_dir(k))
                stages[f"segments_write_{k}"] = round(time.time() - bt0, 2)
                # bucket metrics without re-scanning payload bytes: the
                # dictionary slice already states n_terms and n_postings
                # (sum df) exactly, block count comes from parquet footers
                # (metadata-only), payload bytes from file sizes on disk.
                # Only the range-shuffle fallback (no driver tiling) pays a
                # small-column Spark agg.
                pq_files = [
                    e.path
                    for e in os.scandir(store.bucket_dir(k))
                    if e.name.endswith(".parquet")
                ]
                if bt_pdf is not None:
                    import pyarrow.parquet as _pq

                    m_nt = int(len(bt_pdf))
                    m_np = int(bt_pdf["df"].sum())
                    m_nb = sum(
                        _pq.ParquetFile(f).metadata.num_rows for f in pq_files
                    )
                else:
                    written = self.spark.read.parquet(store.bucket_dir(k))
                    m = written.agg(
                        F.countDistinct("term_id").alias("nt"),
                        F.count("*").alias("nb"),
                        F.sum("n_docs").alias("np"),
                    ).collect()[0]
                    m_nt, m_nb, m_np = int(m["nt"]), int(m["nb"]), int(m["np"] or 0)
                bucket_bytes = sum(os.stat(f).st_size for f in pq_files)
                elapsed = time.time() - bt0
                # the resume ledger is an append-only file shared by all
                # concurrently-built buckets — serialize the appends
                with ledger_lock:
                    store.append_bucket(
                        BucketRecord(
                            bucket=k,
                            term_id_lo=lo,
                            term_id_hi=hi,
                            n_terms=m_nt,
                            n_blocks=m_nb,
                            n_postings=m_np,
                            bytes_payload=bucket_bytes,
                            elapsed_sec=elapsed,
                            terms_per_sec=(m_nt / elapsed if elapsed > 0 else 0.0),
                            postings_per_sec=(m_np / elapsed if elapsed > 0 else 0.0),
                            input_snapshot=input_snapshot,
                        )
                    )
                return m_np

            # buckets are independent jobs (disjoint term ranges, each
            # committing its own dir + ledger line) queued on the one-thread
            # pool above, after the docs stage. The fail-injection test hook
            # runs them on this thread so "only buckets ≤ k committed" stays
            # exact.
            pending: list[tuple[int, object]] = []
            try:
                for k in range(n_buckets):
                    lo, hi = k * width, min((k + 1) * width, n_terms)
                    if lo >= n_terms:
                        break
                    if k in done and os.path.exists(store.bucket_dir(k)):
                        total_postings += done[k].n_postings
                        continue
                    if fail_after_bucket is not None:
                        total_postings += _bucket_job(k, lo, hi)
                        if k >= fail_after_bucket:
                            raise RuntimeError(f"injected failure after bucket {k}")
                    else:
                        pending.append((k, pool.submit(_bucket_job, k, lo, hi)))
                for _k, fut in pending:
                    total_postings += fut.result()
            finally:
                pool.shutdown(wait=True)

            stages["segments"] = round(time.time() - t_segs, 2)
            build_seconds = time.time() - t0
            manifest = Manifest(
                n_docs=n_docs,
                avgdl=avgdl,
                n_terms=int(n_terms),
                config=__import__("json").loads(cfg.to_json()),
                build_seconds=build_seconds,
                docs_per_sec=n_docs / build_seconds if build_seconds > 0 else 0.0,
                postings_total=total_postings,
                input_snapshot=input_snapshot,
                stages=stages,
            )
            manifest.save(index_dir)
            return manifest
