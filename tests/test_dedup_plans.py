"""Plan-construction cost and plan identity of the dedup operators.

The operators write their wide, loop-generated expression lists as Spark
SQL text because each PySpark Column-API call costs ~13 py4j round trips
of call-site capture. These tests pin both sides of that: the round trips
spent building a plan, and a physical plan equal to the one the Column-API
form produced (the golden files under ``golden/dedup_plans``)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from conftest import count_py4j_calls

from gloomy_spark.ops.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)

GOLDEN = Path(__file__).parent / "golden" / "dedup_plans"
PY4J_BUDGET = 1000  # Column-API forms on this input: 11,467 (simhash), 3,831 (minhash_signatures)


def _docs(spark):
    # one input partition per slot, so ensure_min_partitions adds no exchange
    n = spark.sparkContext.defaultParallelism
    return spark.range(0, 32, 1, numPartitions=n).selectExpr(
        "id AS doc_id", "concat('alpha beta gamma delta ', id % 5) AS text"
    )


@pytest.fixture
def full_plan_strings(spark):
    # the default (25) elides most of the 60 simhash aggregates
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000")
    yield
    spark.conf.set(key, old)


def _physical_plan(df) -> str:
    """``explain()``'s physical plan without the ids that vary by session:
    expression ids, exchange plan ids, lambda variable suffixes and the
    input's split count."""
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    text = re.sub(r"#\d+", "", text)
    text = re.sub(r"\[plan_id=\d+\]", "", text)
    text = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1", text)
    return re.sub(r"splits=\d+", "splits=N", text)


@pytest.mark.spark
@pytest.mark.parametrize("op", [simhash, minhash_signatures])
def test_plan_construction_py4j_budget(spark, op):
    docs = _docs(spark)
    op(docs)  # first call resolves JVM classes once per process
    with count_py4j_calls() as calls:
        op(docs)
    assert calls.n <= PY4J_BUDGET, f"{op.__name__}: {calls.n} py4j calls"


@pytest.mark.spark
@pytest.mark.parametrize(
    "op", [simhash, minhash_signatures, minhash_lsh_pairs, simhash_near_pairs]
)
def test_physical_plan_matches_golden(spark, full_plan_strings, monkeypatch, op):
    docs = _docs(spark)
    checkpointed = []
    monkeypatch.setattr(
        type(docs), "localCheckpoint", lambda self, *a, **k: checkpointed.append(self) or self
    )
    out = op(docs)
    # a pair operator is pinned up to its one checkpoint, the self-join's input
    df = checkpointed[0] if checkpointed else out
    assert _physical_plan(df) == (GOLDEN / f"{op.__name__}.txt").read_text()
