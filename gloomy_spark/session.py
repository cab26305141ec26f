"""SparkSession helpers: session factory + package shipping.

``ship_package`` is the in-process equivalent of ``spark-submit
--py-files gloomy_spark.zip`` (the north-rule deployment mode): it zips
this package and registers it with the SparkContext so executor-side
Python workers can unpickle our pandas-UDF closures no matter what the
driver's working directory is.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def _write_zip(zpath: str) -> str:
    """Zip this package's .py files (as ``gloomy_spark/...``) to zpath."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("gloomy_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Idempotently add gloomy_spark as a py-file to the running session.
    The zip goes to a directory of its own: a fixed temp path would be
    shared by every process on the machine, so two checkouts running at
    once would overwrite each other's zip and executors could load the
    other checkout's code."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    zdir = tempfile.mkdtemp(prefix="gloomy_spark_")
    atexit.register(shutil.rmtree, zdir, True)
    sc.addPyFile(_write_zip(os.path.join(zdir, "gloomy_spark_pyfiles.zip")))
    _SHIPPED.add(key)


def ensure_min_partitions(df):
    """Redistribute a DataFrame to the cluster's slot count when its scan
    yields fewer partitions (guide §2.5 "input skew: one huge unsplittable
    file"). A corpus stored as a single parquet row group (or one gzip
    file) cannot be split by the reader, serializing every downstream
    tokenize/hash stage on one core; a tiny round-robin shuffle of the
    input rows unlocks the cluster. At scale, input splits >> slots and
    this is a no-op (no exchange added to the plan)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def build_zip() -> str:
    """Write gloomy_spark.zip for external `spark-submit --py-files` use."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return _write_zip(os.path.join(os.path.dirname(pkg_dir), "gloomy_spark.zip"))


def get_spark(
    cpus: int | str = "*",
    shuffle_partitions: int = 32,
    app_name: str = "gloomy-spark",
) -> SparkSession:
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ship_package(s)
    return s
