from __future__ import annotations

import contextlib
import gc
import os
from types import SimpleNamespace

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gloomy-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@contextlib.contextmanager
def count_py4j_calls():
    """Count the py4j round trips (``send_command`` calls) made inside the
    block; the count is ``.n`` of the yielded object. The garbage collector
    is off meanwhile, so the detach messages py4j sends when it collects
    JavaObject proxies are not counted."""
    calls = SimpleNamespace(n=0)
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls.n += 1
        return send(self, command)

    gc_was_on = gc.isenabled()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send
        if gc_was_on:
            gc.enable()
