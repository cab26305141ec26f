"""Engine configuration.

Mirrors the reference's build config surface
(/root/reference/conf-sample.json, /root/reference/index/gconf/gconf.go:64-92)
plus the new BM25/segment knobs mandated by BASELINE.json's north rule.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field, fields


@dataclass(frozen=True)
class BM25Config:
    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class EngineConfig:
    # stop strings RESET the n-gram window (reference: builder.go:120-122);
    # ignore strings are dropped, window continues (builder.go:124)
    stop_strings: tuple[str, ...] = (".", ":")
    ignore_strings: tuple[str, ...] = ('"', ",")
    # BM25 scoring (new capability per BASELINE.json:6)
    bm25: BM25Config = field(default_factory=BM25Config)
    # posting-segment block structure: docs per block; per-block max_score
    # is the block's BM25 upper bound (for pruning blocks at the scan)
    block_size: int = 128
    # store per-posting position lists in segments (needed for phrase
    # queries; BM25 does not read them)
    store_positions: bool = True
    # fixed doc-range width for posting blocks: blocks never cross a
    # doc_bucket boundary so the query side can co-locate all query terms'
    # blocks for a doc range with a single groupBy(doc_bucket)
    doc_bucket_width: int = 1 << 20
    # shuffle parallelism used by the build pipeline
    shuffle_partitions: int = 32

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, default=list)

    @staticmethod
    def from_json(s: str) -> "EngineConfig":
        """Parse a saved config. Keys that are no longer fields (written
        by an older version) are dropped, so old indexes still open."""
        known = {f.name for f in fields(EngineConfig)}
        d = {k: v for k, v in json.loads(s).items() if k in known}
        if "bm25" in d and isinstance(d["bm25"], dict):
            d["bm25"] = BM25Config(**d["bm25"])
        for k in ("stop_strings", "ignore_strings"):
            if k in d:
                d[k] = tuple(d[k])
        return EngineConfig(**d)


DEFAULT_CONFIG = EngineConfig()
