"""Incremental index build via Structured Streaming.

The reference index is write-once (index/index.go:453-472); this module is
the Spark-native extension the north rule's lineage/resume machinery makes
natural: new corpus files stream in, each micro-batch becomes a posting
RUN (the SPIMI spill analog, but durable + replayable), and a compaction
pass merges runs into the block-compressed segment index.

Design:
- `readStream` over a directory of pages/docs parquet;
- `foreachBatch` reuses the exact batch tokenization → (term, doc_id, tf,
  dl, positions) aggregation, appending one parquet run per micro-batch
  with batch lineage (run ledger);
- `compact()` rebuilds dictionary + segments from the union of runs via
  the standard IndexBuilder tail (one shuffle — Spark's external
  sort-merge IS the k-way run merge of ngramlistLarge.go:152-198);
- checkpointLocation makes ingestion exactly-once per input file, so the
  run set is deterministic and the compacted index matches a from-scratch
  batch build (asserted in tests).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.text import tokens_col


def latest_runs(spark: SparkSession, runs_dir: str) -> DataFrame:
    """Every run's postings with LAST-RUN-WINS per doc: a doc_id in
    several runs was re-ingested, and only its newest run's postings
    survive, so dl, tf and positions stay mutually consistent (summing tf
    across runs would double-count dl and overlap position lists)."""
    runs = (
        spark.read.option("basePath", runs_dir)
        .parquet(os.path.join(runs_dir, "run=*"))
    )
    latest = runs.groupBy("doc_id").agg(F.max("run").alias("run"))
    return runs.join(latest, ["doc_id", "run"], "inner").drop("run")


class IncrementalIndexer:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.cfg = cfg
        self.work_dir = work_dir
        self.runs_dir = os.path.join(work_dir, "runs")
        self.checkpoint_dir = os.path.join(work_dir, "_checkpoint")
        self.run_ledger = os.path.join(work_dir, "runs.jsonl")
        self.id_col = id_col
        self.text_col = text_col
        os.makedirs(self.runs_dir, exist_ok=True)

    # ---------------------------------------------------------- ingest --
    def _batch_postings(self, batch: DataFrame) -> DataFrame:
        """Tokenize one micro-batch into posting rows via the SAME
        `_partition_inverter` the batch builder uses (build.py postings
        stage): mapInArrow consumes each doc row exactly once, so the
        tokenizer expression can never be re-evaluated per element — the
        explode(generator) O(tokens²)/doc trap the batch path documents is
        structurally impossible here, and there is no groupBy shuffle at
        all. Positions come out PRE-ENCODED as per-posting delta+varint
        binary (the postings_raw contract), so compact() appends runs
        verbatim."""
        from ..build import (
            POSTINGS_SCHEMA,
            POSTINGS_SCHEMA_NOPOS,
            _partition_inverter,
        )

        cfg = self.cfg
        schema = POSTINGS_SCHEMA if cfg.store_positions else POSTINGS_SCHEMA_NOPOS
        return (
            batch.select(
                F.col(self.id_col).cast("long").alias("doc_id"),
                tokens_col(F.col(self.text_col), cfg).alias("tokens"),
            )
            .mapInArrow(_partition_inverter(cfg), schema)
        )

    def start(self, input_dir: str, schema: str, trigger_available_now: bool = True):
        """Start the ingestion stream. Each micro-batch appends a posting
        run + a ledger line (batch id, rows, docs, elapsed)."""
        stream = self.spark.readStream.schema(schema).parquet(input_dir)

        def sink(batch: DataFrame, batch_id: int) -> None:
            t0 = time.time()
            run_path = os.path.join(self.runs_dir, f"run={batch_id}")
            postings = self._batch_postings(batch)
            postings.write.mode("overwrite").parquet(run_path)
            n_docs = batch.select(self.id_col).distinct().count()
            with open(self.run_ledger, "a") as f:
                f.write(
                    json.dumps(
                        {
                            "batch_id": batch_id,
                            "run_path": run_path,
                            "n_docs": n_docs,
                            "elapsed_sec": round(time.time() - t0, 3),
                        }
                    )
                    + "\n"
                )

        writer = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # --------------------------------------------------------- compact --
    def compact(self, index_dir: str, n_buckets: int = 2):
        """Merge all runs into a fresh block-compressed index.

        A doc_id appearing in MULTIPLE runs means the document was
        re-ingested (checkpointing already guarantees each input file is
        processed once); ``latest_runs`` keeps its newest run only."""
        from ..build import IndexBuilder

        merged = latest_runs(self.spark, self.runs_dir)
        cfg = self.cfg
        # runs hold positions in the postings_raw contract (per-posting
        # delta+varint binary from _partition_inverter), which the segment
        # writer reads as raw buffers: anything else would be misread
        ptype = {f.name: f.dataType.simpleString() for f in merged.schema.fields}
        if ptype.get("positions", "binary") != "binary":
            raise ValueError(
                f"run positions in {self.runs_dir} are {ptype['positions']}, "
                "not the binary postings_raw form; re-ingest the input"
            )

        # the batch builder accepts prebuilt postings via its internal
        # staging path: write them where the builder's resume logic looks
        os.makedirs(index_dir, exist_ok=True)
        postings_path = os.path.join(index_dir, "postings_raw")
        merged = merged.select(
            "term", "doc_id", "tf", "dl",
            *(["positions"] if "positions" in ptype else []),
        )
        merged.write.mode("overwrite").parquet(postings_path)

        # docs table from the surviving (last-run) postings (doc_id, doclen)
        docs_path = os.path.join(index_dir, "docs")
        (
            merged.groupBy("doc_id")
            .agg(F.first("dl").alias("doclen"))
            .select(
                "doc_id",
                F.lit(None).cast("string").alias("url"),
                F.lit(None).cast("string").alias("lang"),
                "doclen",
            )
            .write.mode("overwrite")
            .parquet(docs_path)
        )
        builder = IndexBuilder(self.spark, cfg)
        empty_docs = self.spark.createDataFrame([], "doc_id long, text string")
        return builder.build(
            empty_docs, index_dir, n_buckets=n_buckets, resume=True,
            input_snapshot=f"streaming-runs:{self.runs_dir}",
        )
