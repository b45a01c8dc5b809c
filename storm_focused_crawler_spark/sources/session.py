"""SparkSession factory with scale-aware defaults.

Local sandbox testing runs on local[N]; on a real cluster the same
builder is driven by spark-submit (--master/--num-executors), and the
config here only sets the knobs that matter at both scales: AQE on
(runtime re-plan + skew-join splitting complements the dequeue's
explicit map-side top-k skew bound), shuffle partitions sized to the
parallelism level, Arrow enabled for the pandas/Arrow-UDF paths, UTC
timezone pinned so results are comparable against the DuckDB oracle,
and a driver heap sized to the machine (``SPARK_DRIVER_MEM`` overrides).
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Hashable, Iterator
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_scopes = threading.local()  # foreachBatch runs on the query's own thread


def _default_driver_mem() -> str:
    """2/5 of physical memory, capped at 48g: a heap larger than the
    machine lets a long-lived local session grow until the OS kills the
    driver JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys * 2 // 5 // (1 << 30)))}g"


def get_spark(
    app: str = "storm-focused-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # parse parallelism from local[N] for shuffle sizing; cluster masters
    # fall back to a cores-based default that spark-submit can override.
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release every resource this thread creates through :func:`persist`,
    :func:`checkpoint` or :func:`tempdir` (the package's only paths to
    cached blocks and temporary directories) while this scope is the
    innermost one.  The code that runs the action opens it; outside any
    scope nothing is released (the caller owns its actions)."""
    stack = vars(_scopes).setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for release in reversed(stack.pop()):
            release()


def _on_close(release: Callable[[], None]) -> None:
    stack = vars(_scopes).get("stack")
    if stack:
        stack[-1].append(release)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, unpersisted when the innermost scope closes."""
    _on_close(df.unpersist)
    return df.persist()  # persist() returns df itself


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``; the scope unpersists the RDD behind
    its ``LogicalRDD`` (``unpersist()`` on the frame itself is a no-op)."""
    out = df.localCheckpoint(eager=eager)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    _on_close(lambda: rdd.unpersist(False))
    return out


def tempdir(prefix: str) -> str:
    """``tempfile.mkdtemp(prefix=prefix)``, removed with everything in it
    when the innermost scope closes — so a frame read from it must be
    consumed inside that scope."""
    path = tempfile.mkdtemp(prefix=prefix)
    _on_close(functools.partial(shutil.rmtree, path, ignore_errors=True))
    return path


def column_tree(build: Callable[..., Any], *args: Hashable) -> Any:
    """``build(*args)`` — a Column or a tuple of Columns — built once per
    driver JVM.  A Column is an immutable, unresolved expression tree
    that belongs to no session, but building one from Python costs a
    py4j round trip per node, so the trees every crawl round applies
    (the robots verdict, the extraction, the page score) are built once
    and shared.  The memo is keyed on everything the tree depends on:
    *build*, *args* and the py4j gateway that holds the JVM objects."""
    return _column_tree(build, SparkContext._gateway, args)


@functools.lru_cache(maxsize=64)
def _column_tree(build, _gateway, args):
    return build(*args)
