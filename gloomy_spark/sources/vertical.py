"""Vertical-format corpus source (reference S3).

The reference's primary input is the "vertical" corpus format parsed by
the external vertigo library (builder.go:219-232): one token per line,
tab-separated positional attributes, SGML-ish structure tags like
``<doc file="x" n="1">`` opening a document and ``</doc>`` closing it.
Structure boundaries reset the n-gram window (builder.go:142-144), and
structure attributes become per-n-gram metadata (builder.go:131-139).

Both readers take their records from the one record source,
`sources.text._file_records`, split at the doc close tag, so each record
is one document chunk (a plain UTF-8 file parallelizes at document
boundaries) and every charset and codec takes the same path.
`read_vertical_docs` parses chunks into documents: (doc_id, text, <doc
attrs...>). Tokens inside one structure are space-joined; every NON-doc
structure tag (<s>, <p>, …, opening or closing) injects a stop-character
boundary marker, so the engine tokenizer reproduces the reference's
window reset (builder.go:142-144 ProcToken(nil)): the unigram stream and
doclen are unchanged (the marker is a split character), but n-gram
windows never cross the boundary. `read_vertical_structs` emits one row
per structure run. Both id a document by xxhash64(path, content key,
occurrence), never by its position in the file.
"""

from __future__ import annotations

import hashlib
import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import _file_records, _occurrence

_OPEN_RE = re.compile(r"<(\w+)((?:\s+\w+=\"[^\"]*\")*)\s*/?>")
_ATTR_RE = re.compile(r"(\w+)=\"([^\"]*)\"")


def parse_vertical(
    body: str, doc_tag: str = "doc", boundary_marker: str = "."
) -> list[dict]:
    """Pure-Python vertical parser (pinned semantics, reused in tests).

    `boundary_marker` is injected between token runs at every non-doc
    structure tag; it must be one of the engine's stop characters
    (default '.'), which makes the tokenizer reset the n-gram window at
    the boundary exactly like the reference's ProcToken(nil)
    (builder.go:142-144) while leaving the unigram stream unchanged."""
    docs: list[dict] = []
    cur_tokens: list[str] = []
    cur_attrs: dict[str, str] = {}
    in_doc = False

    def mark_boundary() -> None:
        if cur_tokens and cur_tokens[-1] != boundary_marker:
            cur_tokens.append(boundary_marker)

    def finish_doc() -> dict:
        toks = cur_tokens[:-1] if cur_tokens and cur_tokens[-1] == boundary_marker else cur_tokens
        return {"attrs": dict(cur_attrs), "text": " ".join(toks)}

    for line in body.splitlines():
        if not line:
            continue
        if line.startswith("</"):
            tag = line[2:].rstrip(">").strip()
            if tag == doc_tag and in_doc:
                docs.append(finish_doc())
                cur_tokens, cur_attrs, in_doc = [], {}, False
            else:
                mark_boundary()
            continue
        if line.startswith("<"):
            m = _OPEN_RE.match(line)
            if m and m.group(1) == doc_tag:
                if in_doc and cur_tokens:
                    docs.append(finish_doc())
                cur_attrs = dict(_ATTR_RE.findall(m.group(2) or ""))
                cur_tokens = []
                in_doc = True
            else:
                # non-doc structure (<s>, <p>, …): n-gram window boundary
                mark_boundary()
            continue
        # token line: first tab-separated column is the word form
        cur_tokens.append(line.split("\t", 1)[0])
    if in_doc and cur_tokens:
        docs.append(finish_doc())
    return docs


def parse_vertical_structs(body: str, doc_tag: str = "doc") -> list[dict]:
    """One record per structure RUN: a maximal token stretch with a
    constant set of open-structure attributes.

    The reference resets the n-gram window at EVERY structure event
    (builder.go:142-144 ProcToken(nil)) and attaches the currently-open
    structures' attrs to each emitted n-gram (builder.go:131-139,
    vertigo's StructAttrs keyed 'tag.attr') — so windows never span a run
    boundary and every window inside one run shares its attrs exactly.
    Parsing to runs therefore loses nothing: per-n-gram sub-document
    attrs (e.g. `<s n="7">`) are recovered by indexing runs as units and
    joining run attrs back per hit.

    Returns dicts: {"seq": doc-ordinal-in-body, "run": run-ordinal-in-doc,
    "attrs": {"doc.file": …, "s.n": …}, "text": space-joined tokens}.
    Self-closing tags (`<g/>`) reset the window but open nothing; empty
    runs (adjacent tags) are not emitted."""
    out: list[dict] = []
    doc_attrs: dict[str, str] = {}
    open_stack: list[tuple[str, dict[str, str]]] = []
    cur: list[str] = []
    in_doc = False
    doc_seq = -1
    run_seq = 0

    def flush() -> None:
        nonlocal cur, run_seq
        if cur and in_doc:
            attrs = {f"{doc_tag}.{k}": v for k, v in doc_attrs.items()}
            for _, d in open_stack:
                attrs.update(d)
            out.append(
                {"seq": doc_seq, "run": run_seq, "attrs": attrs,
                 "text": " ".join(cur)}
            )
            run_seq += 1
        cur = []

    for line in body.splitlines():
        if not line:
            continue
        if line.startswith("</"):
            tag = line[2:].rstrip(">").strip()
            flush()
            if tag == doc_tag:
                in_doc = False
                doc_attrs, open_stack = {}, []
            else:
                for i in range(len(open_stack) - 1, -1, -1):
                    if open_stack[i][0] == tag:
                        del open_stack[i]
                        break
            continue
        if line.startswith("<"):
            m = _OPEN_RE.match(line)
            flush()
            if m and m.group(1) == doc_tag:
                doc_attrs = dict(_ATTR_RE.findall(m.group(2) or ""))
                open_stack = []
                in_doc = True
                doc_seq += 1
                run_seq = 0
            elif m and not line.rstrip().endswith("/>"):
                tag = m.group(1)
                open_stack.append(
                    (tag, {f"{tag}.{k}": v
                           for k, v in _ATTR_RE.findall(m.group(2) or "")})
                )
            continue
        cur.append(line.split("\t", 1)[0])
    flush()
    return out


def _parse_records(
    spark: SparkSession,
    path: str,
    doc_tag: str,
    charset: str,
    rows_of: Callable[[str, str], Iterator[tuple]],
    schema: str,
) -> DataFrame:
    """`rows_of(path, chunk)` over every document chunk of the vertical
    files under `path`, as one mapInPandas with DDL `schema`."""
    close = f"</{doc_tag}>"
    cols = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, rec in zip(pdf["path"], pdf["rec"]):
                # re-append the close tag the split consumed; a chunk
                # holds at most one <doc> (text between two </doc>s)
                rows.extend(rows_of(p, rec + "\n" + close))
            yield pd.DataFrame(rows, columns=cols)

    return _file_records(spark, path, close, charset).mapInPandas(run, schema)


def read_vertical_structs(
    spark: SparkSession,
    path: str,
    doc_tag: str = "doc",
    attrs: list[str] | None = None,
    charset: str = "utf-8",
) -> DataFrame:
    """Vertical files → one row PER STRUCTURE RUN:
    (doc_id, struct_id, text, <attr columns>).

    This is the sub-document metadata path (reference builder.go:131-139 /
    metadata.go:25-28): index with ``IndexBuilder.build(df,
    id_col="struct_id", attr_cols=[…])`` and every n-gram hit recovers the
    enclosing structure's attrs (e.g. which `<s n=…>` a window came from)
    via the metadata join — exact per hit, because structure tags reset
    the n-gram window so no window spans two runs. `attrs` use the
    reference's qualified names ('doc.file', 's.n'); emitted columns
    replace '.' with '_' ('doc_file', 's_n').

    ids are content-stable across any partitioning: doc_id =
    xxhash64(path, doc-content-hash, occ), struct_id adds the run ordinal;
    byte-identical duplicate docs in one file get distinct ids via the
    occurrence window (their run→instance pairing is arbitrary but the
    emitted row SET is permutation-invariant)."""
    attrs = attrs or []
    cols = [a.replace(".", "_") for a in attrs]

    def rows_of(p: str, chunk: str) -> Iterator[tuple]:
        by_doc: dict[int, list[dict]] = {}
        for d in parse_vertical_structs(chunk, doc_tag):
            by_doc.setdefault(d["seq"], []).append(d)
        for ds in by_doc.values():
            # dkey hashes the WHOLE doc's run contents (shared by all of
            # its runs, independent of the doc's position in the file)
            ident = "\x1f".join(
                f"{d['run']}\x1e{d['text']}\x1e"
                + "\x1d".join(f"{k}={v}" for k, v in sorted(d["attrs"].items()))
                for d in ds
            )
            dkey = hashlib.md5(ident.encode()).hexdigest()
            for d in ds:
                yield (
                    p, dkey, int(d["run"]), d["text"],
                    *[d["attrs"].get(a) for a in attrs],
                )

    schema = "path string, dkey string, run long, text string" + "".join(
        f", {c} string" for c in cols
    )
    parsed = _parse_records(spark, path, doc_tag, charset, rows_of, schema)
    occ = _occurrence("path", "dkey", "run")
    return parsed.select(
        F.xxhash64("path", "dkey", occ).alias("doc_id"),
        F.xxhash64("path", "dkey", "run", occ).alias("struct_id"),
        "text",
        *cols,
    )


def read_vertical_docs(
    spark: SparkSession,
    path: str,
    doc_tag: str = "doc",
    attrs: list[str] | None = None,
    charset: str = "utf-8",
) -> DataFrame:
    """Vertical files (plain, .gz or .bz2, any charset; files/util.go:43-54)
    → (doc_id, text, <attr columns>).

    doc_ids are CONTENT-stable: xxhash64(path, doc-content-hash,
    occurrence) — re-reading at any parallelism yields the identical
    (doc_id, text) set, and inserting a document leaves every other
    document's id unchanged (see sources/text.py `_occurrence`). Assumes
    no other structure tag name has ``doc_tag`` as a prefix ending in '>'
    (true for SGML-ish verticals: ``</docs>`` does not contain ``</doc>``
    as a substring)."""
    attrs = attrs or []

    def rows_of(p: str, chunk: str) -> Iterator[tuple]:
        for d in parse_vertical(chunk, doc_tag):
            ident = "\x1f".join(
                [d["text"]]
                + [f"{k}\x1e{v}" for k, v in sorted(d["attrs"].items())]
            )
            key = hashlib.md5(ident.encode()).hexdigest()
            yield (p, key, d["text"], *[d["attrs"].get(a) for a in attrs])

    schema = "path string, key string, text string" + "".join(
        f", {a} string" for a in attrs
    )
    parsed = _parse_records(spark, path, doc_tag, charset, rows_of, schema)
    return parsed.select(
        F.xxhash64("path", "key", _occurrence("path", "key")).alias("doc_id"),
        "text",
        *attrs,
    )
