"""On-disk index layout, manifest, per-bucket checkpoint ledger.

Layout (all parquet + JSON; Iceberg-ready — the same tables map 1:1 onto
Iceberg tables, but the sandbox has no Iceberg jars, so the store uses
parquet directories with explicit manifest/ledger files, which is also
what makes resume observable in tests):

    <index_dir>/
        manifest.json            corpus stats, config, build metrics
        ledger.jsonl             one line per completed build bucket (lineage)
        terms/                   (term, term_id, df, cf, idf)
        docs/                    (doc_id, url, doclen, lang)
        segments/bucket=K/       posting blocks (see build.SEGMENT_SCHEMA)

Behavioral analog of the reference's index directory
(index/index.go:462-507 Save/Load; wdict/writer.go:63-93), re-expressed as
columnar tables instead of bespoke binary files.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field, asdict
from typing import Any

from .config import EngineConfig


@dataclass
class BucketRecord:
    """Per-bucket lineage + metrics (north rule: resumable builds with
    per-partition lineage and terms/sec / postings/sec / bytes metrics)."""

    bucket: int
    term_id_lo: int
    term_id_hi: int
    n_terms: int
    n_blocks: int
    n_postings: int
    bytes_payload: int
    elapsed_sec: float
    terms_per_sec: float
    postings_per_sec: float
    input_snapshot: str = ""
    finished_at: float = field(default_factory=time.time)


@dataclass
class Manifest:
    n_docs: int
    avgdl: float
    n_terms: int
    config: dict[str, Any]
    build_seconds: float = 0.0
    docs_per_sec: float = 0.0
    postings_total: int = 0
    input_snapshot: str = ""
    stages: dict[str, float] = field(default_factory=dict)

    def save(self, index_dir: str) -> None:
        with open(os.path.join(index_dir, "manifest.json"), "w") as f:
            json.dump(asdict(self), f, indent=2)

    @staticmethod
    def load(index_dir: str) -> "Manifest":
        with open(os.path.join(index_dir, "manifest.json")) as f:
            return Manifest(**json.load(f))


class IndexStore:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.terms_path = os.path.join(index_dir, "terms")
        self.docs_path = os.path.join(index_dir, "docs")
        # optional build-time (term, attrs…, count) rollup — the scale
        # path for term_attr_counts / search-result Args (reference
        # builder.go:130-139 pays this cost at build time too)
        self.attr_rollup_path = os.path.join(index_dir, "attr_rollup")
        self.segments_path = os.path.join(index_dir, "segments")
        self.ledger_path = os.path.join(index_dir, "ledger.jsonl")

    def ensure_dirs(self) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        os.makedirs(self.segments_path, exist_ok=True)

    # ------------------------------------------------------------- ledger
    def completed_buckets(self) -> dict[int, BucketRecord]:
        """Committed buckets by id (a later line for a bucket wins). An
        unparsable LAST line is a crash mid-append: its bucket never
        committed, so it is skipped and the resume rebuilds it. A bad
        line anywhere else is corruption and raises."""
        out: dict[int, BucketRecord] = {}
        if not os.path.exists(self.ledger_path):
            return out
        with open(self.ledger_path) as f:
            lines = [line for line in f if line.strip()]
        for i, line in enumerate(lines):
            try:
                rec = BucketRecord(**json.loads(line))
            except json.JSONDecodeError:
                if i == len(lines) - 1:
                    break
                raise
            out[rec.bucket] = rec
        return out

    def append_bucket(self, rec: BucketRecord) -> None:
        # append-only ledger: a bucket line is written only after its
        # segment files are fully committed → crash-safe resume point.
        # A crash mid-append leaves a last line with no newline: cut it if
        # it does not parse (completed_buckets skipped it), else end it,
        # so it never turns into a bad line mid-file.
        with open(self.ledger_path, "a+b") as f:
            f.seek(0)
            data = f.read()
            cut = data.rfind(b"\n") + 1
            if cut < len(data):
                try:
                    json.loads(data[cut:])
                    f.write(b"\n")
                except json.JSONDecodeError:
                    f.truncate(cut)
            f.write((json.dumps(asdict(rec)) + "\n").encode())

    def bucket_dir(self, bucket: int) -> str:
        return os.path.join(self.segments_path, f"bucket={bucket}")

    # ----------------------------------------------------------- staging
    def stage_done(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.index_dir, name, "_SUCCESS"))

    def manifest(self) -> Manifest:
        return Manifest.load(self.index_dir)

    def save_config(self, cfg: EngineConfig) -> None:
        with open(os.path.join(self.index_dir, "config.json"), "w") as f:
            f.write(cfg.to_json())


# --------------------------------------------------------------- iceberg --


def iceberg_available(spark) -> tuple[bool, str]:
    """Capability probe for the Iceberg write path: is at least one
    ``spark.sql.catalog.<name>`` configured with a loadable Iceberg
    catalog class? Returns (ok, detail). The sandbox has no Iceberg jars,
    so here this returns (False, …) — the probe is what keeps
    `publish_index_to_iceberg` a clear error instead of an opaque
    ClassNotFoundException at write time."""
    try:
        entries = spark.sparkContext.getConf().getAll()
    except Exception as ex:  # pragma: no cover - defensive
        return False, f"cannot read spark conf: {ex}"
    catalogs = {
        k.split(".", 3)[3]: v
        for k, v in entries
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3
    }
    iceberg = {n: c for n, c in catalogs.items() if "iceberg" in c.lower()}
    if not iceberg:
        return False, "no spark.sql.catalog.<name> configured with an Iceberg catalog class"
    for name, cls in iceberg.items():
        try:
            spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
            return True, f"catalog {name!r} ({cls})"
        except Exception:
            continue
    return False, (
        f"catalog(s) {sorted(iceberg)} configured but their classes are not "
        "on the JVM classpath (missing iceberg-spark-runtime jar)"
    )


def publish_index_to_iceberg(
    spark, index_dir: str, namespace: str, prefix: str = "idx"
) -> list[str]:
    """Publish a finished parquet index into Iceberg tables (the SURVEY
    §1.3 target: ``writeTo("idx.segments")``).

    Pattern: the builder writes to scratch parquet (cheap retries, loud
    resume ledger), then this one call commits the three tables —
    ``<namespace>.<prefix>_terms / _docs / _segments`` (segments
    partitioned by bucket, preserving the term-range layout the query
    engine prunes on) — each as a single atomic Iceberg snapshot commit.
    Readers then get snapshot isolation and time travel for free, and
    `read_pages`-style ``spark.read.table`` dispatch serves them.

    Gated by `iceberg_available`: without a configured catalog + runtime
    jar this raises RuntimeError up front instead of failing mid-publish.
    """
    ok, detail = iceberg_available(spark)
    if not ok:
        raise RuntimeError(
            f"Iceberg write path unavailable: {detail}. Configure "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
            "and ship the iceberg-spark-runtime jar, or keep the parquet "
            "directory store."
        )
    store = IndexStore(index_dir)
    published = []
    for name, path, part in (
        ("terms", store.terms_path, None),
        ("docs", store.docs_path, None),
        ("segments", store.segments_path, "bucket"),
    ):
        df = spark.read.option("basePath", store.segments_path).parquet(
            os.path.join(path, "bucket=*")
        ) if part else spark.read.parquet(path)
        ident = f"{namespace}.{prefix}_{name}"
        writer = df.writeTo(ident)
        if part:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(F.col(part))
        writer.createOrReplace()
        published.append(ident)
    return published
