"""Canonical loaders for the benchmark/test tables.

``/root/testdata/sf*/`` holds TPC-H-ish parquet plus ``events``,
``documents`` and ``embeddings``. The ``events.ts`` physical type has
varied across driver-generated datasets (timestamp[ns] — which Spark's
Parquet reader only accepts via the ``nanosAsLong`` legacy conf — vs
timestamp[us]), so the loader adapts to whichever it finds and always
yields a session-timezone TimestampType column.

All loads are plain ``spark.read.parquet`` scans: predicate pushdown,
column pruning and row-group skipping apply untouched.

Analyzed relations are memoized per (session, sf_dir, table, input
snapshot): a ``spark.read.parquet`` call eagerly lists files and reads
a footer to resolve the schema, and re-paying that driver-side cost on
every one of the ~500 load sites in the query inventory is exactly
what a catalog/metastore avoids on a real cluster. The cache holds
lazy DataFrames only (no data is pinned). The snapshot component —
(path, size, mtime) over the table path, the same identity
plans/fingerprint.py keys its Parquet cache on — means rewriting a
table file in place invalidates the memo automatically; ``refresh()``
remains as a belt-and-braces full drop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (session JVM id, sf_dir, table, input snapshot) -> analyzed
# DataFrame. Keyed by the session's sessionUUID so a stopped-and-
# recreated SparkSession never serves stale plans from a dead JVM
# context, and by an input snapshot so an in-place rewrite of the
# table path is observed without a manual refresh().
_RELATION_CACHE: dict[tuple[str, str, str, tuple], DataFrame] = {}


def _path_snapshot(path: str) -> tuple:
    """(relpath, size, mtime) identity of a table path — one stat per
    file, no footer reads. Recurses into subdirectories so partitioned
    layouts (``table/part=x/part-*.parquet``) are covered: an in-place
    rewrite of a nested part-file changes neither the subdir entry nor
    the top level, so a flat scandir would serve a stale plan. A
    missing path snapshots empty (the subsequent read raises the real
    error)."""
    try:
        st = os.stat(path)
    except OSError:
        return ()
    # nanosecond mtime: a same-size rewrite within the same SECOND must
    # still invalidate (whole-second truncation misses exactly the
    # tight rewrite loop this snapshot exists to catch)
    if not os.path.isdir(path):
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    # follow directory symlinks (a symlinked subdir must be recursed,
    # not recorded as one stale (size, mtime) of the target) — guard
    # cycles with a visited (dev, ino) set
    seen: set = set()

    def _walk(d: str, prefix: str) -> None:
        try:
            dst = os.stat(d)
        except OSError:
            return
        ident = (dst.st_dev, dst.st_ino)
        if ident in seen:
            return
        seen.add(ident)
        try:
            entries = list(os.scandir(d))
        except OSError:
            return
        for entry in entries:
            rel = prefix + entry.name
            try:
                if entry.is_dir(follow_symlinks=True):
                    _walk(entry.path, rel + "/")
                else:
                    est = entry.stat()
                    out.append((rel, est.st_size, est.st_mtime_ns))
            except OSError:
                out.append((rel, -1, -1))

    _walk(path, "")
    return tuple(sorted(out))


def refresh() -> None:
    """Drop all memoized relations (next load re-lists and re-reads
    footers). Call after rewriting a table path in place."""
    _RELATION_CACHE.clear()


def _session_key(spark: SparkSession) -> str:
    try:
        return spark._jsparkSession.sessionUUID()
    except Exception:  # non-JVM session (connect) — fall back to id()
        return str(id(spark))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (_session_key(spark), sf_dir, name, _path_snapshot(path))
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        if name == "events":
            # scan + rendering confs must hold even when memoized: the
            # nanosAsLong legacy conf is consulted at execution time by
            # the parquet reader, not only at analysis
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        return cached
    df = _load_uncached(spark, sf_dir, name)
    # evict superseded snapshots of the same relation so a rewrite
    # loop can't grow the cache unboundedly
    for stale in [k for k in _RELATION_CACHE if k[:3] == key[:3]]:
        del _RELATION_CACHE[stale]
    _RELATION_CACHE[key] = df
    return df


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp rendering (date_trunc/date_format) follows the
        # session timezone; pin UTC at runtime so driver-owned sessions
        # render identically to the DuckDB oracle's naive timestamps
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # timestamp[ns] read as epoch-ns long -> TimestampType at
            # microsecond precision. Integer division: epoch-ns values
            # exceed double's 53-bit mantissa, so (ts/1000).cast(long)
            # would be off by 1us near microsecond boundaries.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # timestamp[us] without tz: under the pinned UTC session
            # timezone this cast is wall-clock identical, and keeps the
            # column type stable across dataset generations.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple = ALL_TABLES) -> None:
    """Register the test tables as temp views so queries can run
    through the plain ``spark.sql`` surface."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
