"""Round-5 closures: kwic/collocations tokenize-once plan pin (r4 verdict
wrong #1), positions guard on the postings_positions family (ADVICE),
facet-attr validation + identifier quoting in the IN-expression builders
(ADVICE medium), micro-batcher max_batch as a real size cap + per-caller
error wrapping (ADVICE), and the term_attr_counts broadcast size guard
(r4 verdict next #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gloomy_spark.config import EngineConfig


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(block_size=64, doc_bucket_width=64, shuffle_partitions=8)
    idx = str(tmp_path_factory.mktemp("r5idx") / "idx")
    docs = pages_df(spark, 120, partitions=4).select("doc_id", "text", "url", "lang")
    IndexBuilder(spark, cfg).build(
        docs, idx, n_buckets=2, url_col="url", lang_col="lang"
    )
    return SearchIndex(spark, idx).cache()


@pytest.fixture(scope="module")
def docs120(spark):
    from gloomy_spark.corpus import pages_df

    return pages_df(spark, 120, partitions=4).select("doc_id", "text")


# --------------------------------------------------- tokenize-once plan pin --


@pytest.mark.spark
def test_kwic_tokenizes_below_explode(small_index, docs120):
    """Generate re-evaluates sibling projection expressions once per
    emitted element, so tokens_col in the SAME projection as
    explode(positions) re-tokenizes a doc tf times (r4 verdict wrong #1).
    Pin the optimized plan: split(lower(text)) must sit in the Project
    BELOW the Generate node (plans print top-down, parent first)."""
    plan = (
        small_index.kwic("a", docs120, width=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    gen = plan.index("Generate explode(positions")
    assert "split(lower" not in plan[:gen], (
        "tokenization re-collapsed ABOVE the explode — per-hit re-tokenization"
    )
    assert "split(lower" in plan[gen:], "tokenization missing below the Generate"


@pytest.mark.spark
def test_collocations_tokenize_below_explode(small_index, docs120):
    plan = (
        small_index.collocations("a", docs120, window=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    gen = plan.index("Generate explode(positions")
    assert "split(lower" not in plan[:gen]
    assert "split(lower" in plan[gen:]


@pytest.mark.spark
def test_kwic_rows_unchanged_by_plan_fix(small_index, docs120):
    """The two-stage select is a pure plan change: every occurrence of a
    head term still yields one row, pos-consistent with tf."""
    got = small_index.kwic("a", docs120, width=2).count()
    cf = int(small_index.search_exact("a").collect()[0]["cf"])
    assert got == cf > 0


# --------------------------------------------------------- positions guard --


@pytest.mark.spark
def test_positions_family_guard_without_positions(spark, tmp_path, docs120):
    """kwic / collocations / postings_positions on an index built with
    store_positions=False must fail with the clear ValueError, not a
    missing-column AnalysisException (ADVICE low)."""
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(
        block_size=64, doc_bucket_width=64, shuffle_partitions=8,
        store_positions=False,
    )
    idx = str(tmp_path / "nopos")
    docs = pages_df(spark, 40, partitions=2).select("doc_id", "text", "url")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=1, url_col="url")
    si = SearchIndex(spark, idx)
    for call in (
        lambda: si.postings_positions("a"),
        lambda: si.kwic("a", docs120),
        lambda: si.collocations("a", docs120),
    ):
        with pytest.raises(ValueError, match="store_positions=True"):
            call()


# ------------------------------------------------- identifier safety (ADVICE) --


@pytest.mark.spark
def test_bm25_filtered_rejects_unknown_attr(small_index):
    """/bm25?filter= forwards a caller-supplied attr name; anything not a
    docs-dimension column must be rejected before expression building."""
    hostile = "lang) IN ('x')) OR true --"
    with pytest.raises(KeyError, match="unknown facet attribute"):
        small_index.bm25_topk_filtered("a", 5, hostile, ["en"])


@pytest.mark.spark
def test_in_strings_identifier_backtick_quoted(spark):
    """The >64-value path parses an SQL expression; the identifier must be
    backtick-quoted so a crafted column name cannot splice expressions.
    A hostile name therefore resolves (and fails) as a COLUMN LOOKUP."""
    from pyspark.errors import AnalysisException

    from gloomy_spark.query.engine import _in_longs, _in_strings

    df = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    many = [f"v{i}" for i in range(70)]
    hostile = "lang) IN ('x')) OR (true"  # would parse if spliced raw
    with pytest.raises(AnalysisException):
        df.where(_in_strings(hostile, many)).collect()
    with pytest.raises(AnalysisException):
        df.where(_in_longs(hostile, list(range(70)))).collect()
    # and the legit >64-value path still works on a real column
    got = df.where(_in_strings("lang", many + ["en"])).count()
    assert got == 3
    assert df.where(_in_longs("doc_id", list(range(100, 200)))).count() == 0


# ------------------------------------------------------- micro-batcher caps --


@pytest.mark.spark
def test_microbatch_max_batch_is_a_size_cap(small_index):
    """A burst larger than max_batch must split into ceil(n/max_batch)
    batches (ADVICE low: the drain previously took the whole queue)."""
    import threading

    from gloomy_spark.query.microbatch import Bm25MicroBatcher

    si = small_index
    mb = Bm25MicroBatcher(si, window_ms=200, max_batch=4)
    sizes = []
    real = si.bm25_topk_batch

    def spy(queries, k):
        sizes.append(len(queries))
        return real(queries, k)

    si.bm25_topk_batch = spy
    results: dict[int, list] = {}
    try:
        # distinct queries so dedup can't shrink the batch under the cap
        qs = [f"data merge q{i}" for i in range(10)]
        barrier = threading.Barrier(10)

        def client(i):
            barrier.wait()
            results[i] = mb.query(qs[i], 3)

        ts = [threading.Thread(target=client, args=(i,)) for i in range(10)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    finally:
        si.bm25_topk_batch = real
        mb.close()
    assert len(results) == 10
    assert max(sizes) <= 4, f"oversized batch ran: {sizes}"
    assert mb.batches_run >= 3


@pytest.mark.spark
def test_microbatch_error_wrapped_per_caller(small_index):
    """Each waiting caller re-raises its OWN wrapper (chained to the
    shared batch error), not the single shared exception object."""
    import threading

    from gloomy_spark.query.microbatch import Bm25MicroBatcher

    si = small_index
    mb = Bm25MicroBatcher(si, window_ms=100)
    real = si.bm25_topk_batch
    boom = ValueError("injected shared failure")

    def flaky(queries, k):
        raise boom

    si.bm25_topk_batch = flaky
    errs: dict[int, BaseException] = {}
    try:
        barrier = threading.Barrier(4)

        def client(i):
            barrier.wait()
            try:
                mb.query(f"data q{i}", 3)
            except BaseException as ex:  # noqa: BLE001
                errs[i] = ex

        ts = [threading.Thread(target=client, args=(i,)) for i in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    finally:
        si.bm25_topk_batch = real
        mb.close()
    assert len(errs) == 4
    assert len({id(e) for e in errs.values()}) == 4, "shared exception object"
    for e in errs.values():
        assert isinstance(e, RuntimeError) and e.__cause__ is boom


# ------------------------------------------- term_attr_counts broadcast guard --


@pytest.mark.spark
def test_term_attr_counts_shuffle_fallback(small_index, monkeypatch, tmp_path):
    """Without a rollup, a page whose terms' summed df exceeds the guard
    must NOT broadcast the postings side; results are identical on both
    paths (r4 verdict next #6)."""
    si = small_index
    import gloomy_spark.query.engine as eng

    # force the no-rollup path by pointing the rollup probe at nothing
    monkeypatch.setattr(si.store, "attr_rollup_path", str(tmp_path / "no_rollup"))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    base = si.term_attr_counts(["a", "data"], ["lang"])
    assert "ResolvedHint" in base._jdf.queryExecution().analyzed().toString()
    want = canon(base)

    monkeypatch.setattr(eng.SearchIndex, "_ATTR_COUNT_BROADCAST_MAX_DF", 0)
    guarded = si.term_attr_counts(["a", "data"], ["lang"])
    plan = guarded._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, "head-term page still broadcast"
    assert canon(guarded) == want
    assert len(want) > 0


# ------------------------------------------------------- faceted BM25 --


@pytest.mark.spark
def test_bm25_filtered_matches_unfiltered_on_full_facet(small_index):
    """With every doc allowed, faceted search must equal plain
    bm25_topk scores exactly (corpus-wide stats contract)."""
    si = small_index
    langs = [r["lang"] for r in si.docs.select("lang").distinct().collect()]
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in si.bm25_topk("scan filter window the", 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in si.bm25_topk_filtered(
            "scan filter window the", 10, "lang", langs
        ).collect()
    ]
    assert got == want


@pytest.mark.spark
def test_bm25_operators_share_score_bits(small_index):
    """bm25_topk, bm25_topk_filtered over every language and
    bm25_topk_batch run one bucket kernel, so each query gets the same
    docs with the same float bits from all three, also for docs holding
    three or four query terms (summed in sorted term_id order by all)."""
    import numpy as np

    si = small_index
    langs = [r["lang"] for r in si.docs.select("lang").distinct().collect()]
    by_df = [r["term"] for r in si.terms.orderBy(F.desc("df"), "term").collect()]
    head, tail = by_df[:12], by_df[-40:]
    rng = np.random.default_rng(11)
    qs = [
        f"{head[0]} {head[0]} {head[1]}",  # a repeated term
        f"zzz_absent {head[2]}",  # an absent term
        "zzz_absent",
        tail[0],
    ]
    while len(qs) < 24:
        n = int(rng.integers(1, 5))
        picks = list(rng.choice(head, size=n, replace=False))
        if rng.random() < 0.3:
            picks[-1] = tail[int(rng.integers(len(tail)))]
        qs.append(" ".join(picks))
    assert sum(len(q.split()) >= 3 for q in qs) >= 6

    def hexed(rows):
        return [(r["doc_id"], float(r["score"]).hex()) for r in rows]

    k = 10
    batch: dict[int, list] = {}
    for r in si.bm25_topk_batch(qs, k).collect():
        batch.setdefault(r["query_id"], []).append(r)
    for qi, q in enumerate(qs):
        single = hexed(si.bm25_topk(q, k).collect())
        faceted = hexed(si.bm25_topk_filtered(q, k, "lang", langs).collect())
        batched = hexed(
            sorted(batch.get(qi, []), key=lambda r: (-r["score"], r["doc_id"]))
        )
        assert single == faceted == batched, q
        assert bool(single) == (q != "zzz_absent"), q


@pytest.mark.spark
def test_bm25_filtered_plan_is_mapinarrow(small_index):
    """Faceted search runs in bm25_topk's per-bucket shape: the allowed
    docs are unioned into the blocks' doc_bucket exchange and scored by
    one mapInArrow node, with no cogroup of the two sides."""
    df = small_index.bm25_topk_filtered("a the data", 10, "lang", ["en"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "CoGroup" not in plan, plan


@pytest.mark.spark
def test_config_with_removed_keys_opens_and_round_trips(spark, small_index, tmp_path):
    """An index whose config.json still holds keys of fields since
    removed (salt_threshold_df, ngram_sizes, max_ngram_size,
    proc_chunk_size, min_ngram_freq, inverter_batch_rows,
    segment_chunk_min_postings) still opens with the same config, and the config
    round-trips through to_json/from_json."""
    import json
    import shutil

    from gloomy_spark.query.engine import SearchIndex

    idx = str(tmp_path / "idx")
    shutil.copytree(small_index.store.index_dir, idx)
    with open(f"{idx}/config.json") as f:
        d = json.load(f)
    d.update(salt_threshold_df=0.05, ngram_sizes=[1, 2, 3],
             max_ngram_size=10, proc_chunk_size=1_000_000,
             min_ngram_freq=4, inverter_batch_rows=4096,
             segment_chunk_min_postings=1 << 18)
    with open(f"{idx}/config.json", "w") as f:
        json.dump(d, f)
    cfg = SearchIndex(spark, idx).cfg
    assert cfg == small_index.cfg
    assert EngineConfig.from_json(cfg.to_json()) == cfg
    assert "proc_chunk_size" not in cfg.to_json()


# ------------------------------------------------------- package shipping --


@pytest.mark.spark
def test_ship_package_zip_path_is_per_process(spark, monkeypatch):
    """ship_package must not write the shared fixed temp path (two
    checkouts running at once would overwrite each other's zip), and the
    zip it registers must hold the package's .py files."""
    import os
    import tempfile
    import zipfile

    from gloomy_spark import session

    sc = spark.sparkContext
    added = []
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setattr(sc, "addPyFile", added.append)
    session.ship_package(spark)
    assert len(added) == 1
    zpath = added[0]
    assert zpath != os.path.join(tempfile.gettempdir(), "gloomy_spark_pyfiles.zip")
    assert zpath.endswith(".zip")
    names = set(zipfile.ZipFile(zpath).namelist())
    pkg = os.path.dirname(session.__file__)
    want = {
        os.path.join("gloomy_spark", os.path.relpath(os.path.join(r, f), pkg))
        for r, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    }
    assert "gloomy_spark/query/engine.py" in names and names == want


# ----------------------------------------------------- batch serving view --


@pytest.fixture(scope="module")
def view_index(spark, tmp_path_factory):
    """Index with MORE doc buckets than cores — the regime of real
    corpora (buckets >> executors), where the batch scorer's exchange
    spreads buckets over several tasks."""
    from gloomy_spark.build import IndexBuilder
    from gloomy_spark.corpus import pages_df
    from gloomy_spark.query.engine import SearchIndex

    cfg = EngineConfig(block_size=64, doc_bucket_width=16, shuffle_partitions=8)
    idx = str(tmp_path_factory.mktemp("r5vidx") / "idx")
    docs = pages_df(spark, 150, partitions=4).select("doc_id", "text", "url")
    IndexBuilder(spark, cfg).build(docs, idx, n_buckets=2, url_col="url")
    return SearchIndex(spark, idx).cache()


@pytest.mark.spark
def test_batch_serving_view_rank_identical(view_index):
    """bm25_topk_batch through the persisted pre-partitioned view must be
    rank-identical to per-query exhaustive bm25_topk for every query."""
    si = view_index
    qs = ["the data merge", "scan filter", "a", "zzz_absent",
          "merge group table", "a the"]

    on = sorted(
        (int(r["query_id"]), int(r["doc_id"]), round(float(r["score"]), 9))
        for r in si.bm25_topk_batch(qs, 10).collect()
    )
    per_query = sorted(
        (qi, int(r["doc_id"]), round(float(r["score"]), 9))
        for qi, q in enumerate(qs)
        for r in si.bm25_topk(q, 10).collect()
    )
    assert on == per_query and len(on) > 0
