"""S12/S13: Parquet cache sink, save_to_disk / load_from_disk.

Reference semantics: datasets persist as Arrow cache files plus a state
JSON (arrow_dataset.py:131-138, load.py:268-280, writer
table_util.py:367-435 with tmp-file + atomic move). Spark mapping:
``df.write.parquet`` (Spark's commit protocol is already atomic) plus a
sidecar ``_biosets_state.json`` carrying the role metadata, label
dictionaries, and fingerprint so a reload restores the full typed
dataset.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import roles

STATE_FILE = "_biosets_state.json"


def _has_scheme(path: str) -> bool:
    return "://" in path


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _write_text(spark, path: str, text: str) -> None:
    """Write a small sidecar file; remote URIs (s3a://, hdfs://) go
    through the Hadoop FileSystem so the sidecar lands NEXT TO the
    parquet it describes — a local open() would raise after the
    (possibly hours-long) data write already succeeded."""
    if not _has_scheme(path):
        with open(path, "w") as f:
            f.write(text)
        return
    fs, jpath, _jvm = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark, path: str) -> str | None:
    """Read a small sidecar file (None if absent); remote URIs go
    through the Hadoop FileSystem."""
    if not _has_scheme(path):
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()
    fs, jpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def save_to_disk(
    df: DataFrame,
    path: str,
    fingerprint: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | str | None = None,
    sort_by: list[str] | str | None = None,
    sort_files: int | None = None,
) -> None:
    """Persist as parquet (+ role sidecar). ``partition_by`` writes a
    hive-style layout (``col=value/`` directories) so downstream scans
    with an equality/range filter on those columns prune whole
    partitions before reading a byte — the 100 TB layout lever for
    date- or split-keyed datasets. ``sort_by`` clusters rows WITHIN
    each output file (``repartitionByRange`` + ``sortWithinPartitions``
    before the write — one range shuffle, paid once at write time):
    files then cover disjoint key ranges and the parquet row-group
    min/max statistics become selective, so point/range filters on
    those columns skip whole files and row groups — the second layout
    lever, for high-cardinality keys (ids, timestamps) where
    ``partition_by`` would create millions of directories.
    ``sort_files`` pins the clustered file count (default: the
    session's shuffle parallelism, which AQE may coalesce for small
    data — pin it when file-level pruning granularity matters).
    """
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        if sort_files:
            df = df.repartitionByRange(sort_files, *sort_by)
        else:
            df = df.repartitionByRange(*sort_by)
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode)
    if partition_by:
        partition_by = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    state = {
        "roles": roles.roles_snapshot(df),
        "columns": df.columns,
        "fingerprint": fingerprint,
        "format": "parquet",
        "partition_by": partition_by or [],
        # partition values live in DIRECTORY NAMES, not parquet files;
        # the reader re-infers their types ("1" -> int), so the saved
        # dtypes must be recorded to round-trip the schema faithfully
        "partition_schema": {
            c: df.schema[c].dataType.simpleString() for c in (partition_by or [])
        },
    }
    _write_text(df.sparkSession, os.path.join(path, STATE_FILE),
                json.dumps(state, indent=2))


def load_from_disk(spark: SparkSession, path: str):
    """Load a dataset saved by ``save_to_disk``. Mirrors the
    reference's load_from_disk dispatch: a directory whose immediate
    children are split datasets (each with its own state sidecar, no
    top-level sidecar) comes back as a ``BioDatasetDict``; a plain
    dataset directory comes back as a DataFrame."""
    from pyspark.sql.functions import col

    state_path = os.path.join(path, STATE_FILE)
    state_text = _read_text(spark, state_path)
    # split-dict dispatch needs a directory listing; remote URIs with a
    # top-level sidecar short-circuit it, local paths list as before
    if state_text is None and not _has_scheme(path) and os.path.isdir(path):
        splits = [
            d for d in sorted(os.listdir(path))
            if os.path.exists(os.path.join(path, d, STATE_FILE))
        ]
        if splits:
            from ..dataset import BioDatasetDict

            return BioDatasetDict.load_from_disk(path, spark=spark)

    df = spark.read.parquet(path)
    if state_text is not None:
        state = json.loads(state_text)
        for c, dt in (state.get("partition_schema") or {}).items():
            if c in df.columns and df.schema[c].dataType.simpleString() != dt:
                df = df.withColumn(c, roles.qcol(c).cast(dt))
        df = roles.apply_roles(df, state.get("roles", {}))
        cols = [c for c in state.get("columns", []) if c in df.columns]
        if cols:
            df = df.select(*map(roles.qcol, cols))
    return df


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str] | str,
) -> dict:
    """MERGE-style upsert into a parquet dataset: rows of ``updates``
    replace base rows sharing the same key tuple, new keys are
    inserted — the incremental corpus-refresh primitive (a table
    format's ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT
    MATCHED THEN INSERT`` re-expressed as anti-join + union).

    Plan: base LEFT ANTI updates' distinct keys (drops superseded
    rows) unionByName updates, rewritten to a sibling temp directory
    and atomically renamed over the original — readers see the old or
    the new dataset, never a partial mix. Within ``updates``,
    duplicate keys are resolved arbitrarily only if the caller passes
    them; dedupe upstream (keep_latest / incremental_dedup) when the
    feed can repeat keys.

    At 100 TB the same plan applies per partition (run over the
    hive-partition subpaths the updates actually touch, not the whole
    table), and the rename becomes a metastore/table-format commit;
    the anti-join side carries only the key columns.

    Returns {"inserted": n_new_keys, "updated": n_replaced,
    "total": rows_after}.
    """
    import shutil

    from pyspark.sql.utils import AnalysisException

    keys = [keys] if isinstance(keys, str) else list(keys)
    try:
        base = spark.read.parquet(path)
    except AnalysisException:
        base = None
    if base is None:
        updates.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        return {"inserted": n, "updated": 0, "total": n}

    # the stats would naively cost FOUR extra actions, each re-reading
    # the base and re-evaluating updates' distinct keys; instead the
    # two key-only relations are cached (keys are a tiny projection of
    # the data) so every count and the anti-join probe reuse them, and
    # n_base is derived from one key-grouped aggregate rather than a
    # second full-table scan
    from pyspark.sql import functions as F

    upd_keys = updates.select(*keys).distinct().cache()
    base_key_counts = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n")).cache()
    try:
        row = base_key_counts.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("rows"),
            F.count(F.lit(1)).alias("nkeys")).collect()[0]
        n_base = row["rows"]
        n_replaced_row = base_key_counts.join(upd_keys, keys, "left_semi").agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n")).collect()[0]
        n_kept = n_base - n_replaced_row["n"]
        n_new_keys = upd_keys.join(base_key_counts, keys, "left_anti").count()
        kept = base.join(upd_keys, keys, "left_anti")
        merged = kept.unionByName(updates)

        tmp = path.rstrip("/") + "__upsert_tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        n_total = spark.read.parquet(tmp).count()
    finally:
        upd_keys.unpersist()
        base_key_counts.unpersist()
    old = path.rstrip("/") + "__upsert_old__"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return {
        "inserted": n_new_keys,
        "updated": n_base - n_kept,
        "total": n_total,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(rows / target_rows_per_file) files and atomically swap.
    Streaming sinks and incremental upserts accrete small files; at
    100 TB the resulting per-file open/footer overhead dominates scan
    time long before data volume does (the classic small-files
    problem), so periodic compaction is part of the table's lifecycle.

    Uses repartition (round-robin, parallel) rather than coalesce:
    coalesce(1) would funnel the rewrite through one task.

    Returns {"files_before": ..., "files_after": ..., "rows": ...}.
    """
    import shutil

    def _hive_partition_cols(p: str) -> list[str]:
        # walk one representative branch of col=value directories; a
        # hive-partitioned dataset compacted WITHOUT partitionBy would
        # silently lose the pruning layout it was written for
        cols = []
        cur = p
        while True:
            sub = [d for d in sorted(os.listdir(cur))
                   if "=" in d and os.path.isdir(os.path.join(cur, d))]
            if not sub:
                return cols
            cols.append(sub[0].split("=", 1)[0])
            cur = os.path.join(cur, sub[0])

    def _count_files(p: str) -> int:
        return sum(
            1 for root, _d, names in os.walk(p)
            for f in names if f.endswith(".parquet")
        )

    df = spark.read.parquet(path)
    n = df.count()
    part_cols = _hive_partition_cols(path)
    files_before = _count_files(path)
    n_files = max(1, -(-n // target_rows_per_file))
    tmp = path.rstrip("/") + "__compact_tmp__"
    writer = df.repartition(n_files, *part_cols) if part_cols \
        else df.repartition(n_files)
    w = writer.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(tmp)
    old = path.rstrip("/") + "__compact_old__"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    files_after = _count_files(path)
    return {"files_before": files_before, "files_after": files_after, "rows": n}


# ---------------------------------------------------------------------
# Versioned table surface (r8): MERGE INTO + time travel over parquet
# snapshots — a Delta/Iceberg-lite commit log. Each commit writes a
# NEW immutable snapshot directory and appends a log entry with an
# atomic tmp-write + rename, so readers always see a complete version
# and time travel is a directory pick. Copy-on-write at snapshot
# granularity: the honest simple variant of what table formats do at
# file granularity (they rewrite only touched files and commit a
# manifest; the commit-protocol shape — immutable data + atomic
# pointer swap — is identical, and this surface swaps in file-level
# tracking without changing its API).
# ---------------------------------------------------------------------

TABLE_LOG = "_table_log.json"
SNAPSHOT_DIR = "_snapshots"
STATS_DIR = "_stats"


def _table_log_read(path: str) -> dict:
    log_path = os.path.join(path, TABLE_LOG)
    if not os.path.exists(log_path):
        raise FileNotFoundError(
            f"no versioned table at {path!r} — create one with "
            "create_table(spark, path, df)")
    with open(log_path) as f:
        return json.load(f)


def _table_log_append(path: str, log: dict, entry: dict) -> None:
    log["versions"].append(entry)
    log["current"] = entry["version"]
    tmp = os.path.join(path, TABLE_LOG + ".tmp")
    with open(tmp, "w") as f:
        json.dump(log, f, indent=2)
    os.replace(tmp, os.path.join(path, TABLE_LOG))  # atomic commit


def _snapshot_path(path: str, version: int) -> str:
    return os.path.join(path, SNAPSHOT_DIR, f"v{version:06d}")


def _clear_aborted_snapshot(path: str, version: int) -> None:
    """A crash between a snapshot write and its log append leaves an
    orphan directory for a version the log never committed; without
    this sweep every retry of that commit would fail errorifexists
    forever. Only an UNCOMMITTED version's directory is ever removed —
    committed snapshots are immutable. Callers hold the commit lock,
    so the read-log/clear/write sequence cannot race another writer
    (without the lock, writer B holding a stale log could sweep
    writer A's just-committed snapshot)."""
    import shutil

    p = _snapshot_path(path, version)
    if os.path.exists(p):
        shutil.rmtree(p)


class _table_commit_lock:
    """Advisory single-host commit lock (O_CREAT|O_EXCL lock file):
    serializes concurrent create/merge commits against one table so
    the read-log -> clear-orphan -> write-snapshot -> append-log
    sequence is atomic with respect to other LOCAL writers. A stale
    lock older than ``stale_after`` seconds (crashed writer) is broken
    with a warning. Distributed multi-writer coordination is a
    metastore/table-format concern — documented out of scope for the
    local-FS surface.

    ``lock_name`` makes the pattern reusable for other single-host
    critical sections (plans/fingerprint.py guards its cache-entry
    lifecycle with it)."""

    def __init__(self, path: str, timeout: float = 60.0,
                 stale_after: float = 3600.0,
                 lock_name: str | None = None):
        self.lock_path = os.path.join(path, (lock_name or TABLE_LOG) + ".lock")
        self.timeout = timeout
        self.stale_after = stale_after

    def __enter__(self):
        import time
        import warnings

        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fd = os.open(self.lock_path,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.lock_path)
                except OSError:
                    # holder just released (ENOENT) — retry; still
                    # honor the deadline so a persistent stat failure
                    # (ACLs) can't spin forever
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"could not acquire table commit lock "
                            f"{self.lock_path!r} within {self.timeout}s"
                        ) from None
                    continue
                if age > self.stale_after:
                    warnings.warn(
                        f"breaking stale table commit lock {self.lock_path!r} "
                        f"(age {age:.0f}s — crashed writer)")
                    try:
                        os.unlink(self.lock_path)
                    except OSError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire table commit lock "
                        f"{self.lock_path!r} within {self.timeout}s — "
                        "another writer is committing") from None
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.unlink(self.lock_path)
        except OSError:
            pass
        return False


def create_table(spark: SparkSession, path: str, df: DataFrame,
                 write_change_feed: bool = False,
                 change_keys: str | list[str] | None = None) -> dict:
    """Create a versioned table at ``path`` with ``df`` as version 0.
    ``write_change_feed=True`` persists a per-commit change feed
    (``_changes/v00000N`` parquet, Delta-CDF shape) — version 0's feed
    is every row as an 'insert'. ``change_keys`` defaults to the first
    column."""
    import datetime

    from pyspark.sql import functions as F

    os.makedirs(os.path.join(path, SNAPSHOT_DIR), exist_ok=True)
    with _table_commit_lock(path):
        if os.path.exists(os.path.join(path, TABLE_LOG)):
            raise FileExistsError(f"versioned table already exists at {path!r}")
        _clear_aborted_snapshot(path, 0)  # an aborted create's orphan v0
        df.write.mode("errorifexists").parquet(_snapshot_path(path, 0))
        write_table_stats(path, 0)  # file-skipping index (footer-only)
        entry = {
            "version": 0,
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "operation": "create",
            "rows": spark.read.parquet(_snapshot_path(path, 0)).count(),
        }
        if write_change_feed:
            snap = spark.read.parquet(_snapshot_path(path, 0))
            snap.withColumn("_change_type", F.lit("insert")) \
                .withColumn("_commit_version", F.lit(0).cast("int")) \
                .write.mode("overwrite").parquet(_changes_path(path, 0))
            entry["change_feed"] = True
            entry["change_keys"] = (
                [change_keys] if isinstance(change_keys, str)
                else list(change_keys) if change_keys else [df.columns[0]])
        _table_log_append(path, {"versions": [], "current": -1}, entry)
    return entry


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Time-travel read: latest version by default, or a specific
    ``version``, or the newest version committed at or before the
    ``as_of`` ISO timestamp."""
    log = _table_log_read(path)
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if as_of is not None:
        eligible = [v for v in log["versions"] if v["timestamp"] <= as_of]
        if not eligible:
            raise ValueError(
                f"no snapshot of {path!r} exists at or before {as_of!r}")
        version = eligible[-1]["version"]
    if version is None:
        version = log["current"]
    known = {v["version"]: v for v in log["versions"]}
    if version not in known:
        raise ValueError(
            f"version {version} not in table log (has {sorted(known)})")
    if known[version].get("vacuumed"):
        raise ValueError(
            f"version {version} of {path!r} was vacuumed — only "
            "retained snapshots are time-travelable")
    return spark.read.parquet(_snapshot_path(path, version))


def table_history(path: str) -> list[dict]:
    """The commit log, oldest first."""
    return list(_table_log_read(path)["versions"])


def merge_into_parquet(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: str | list[str],
    matched_update=None,
    matched_delete=None,
    not_matched_insert=None,
    matched_condition=None,
    idempotency_token: str | None = None,
    allow_schema_evolution: bool = False,
    write_change_feed: bool | None = None,
) -> dict:
    """MERGE INTO the versioned table at ``path``: applies the
    three-clause functional merge (operators.merge.merge_into) to the
    current snapshot and commits the result as a new version. The old
    snapshot stays readable via time travel. Clause semantics and the
    duplicate-source-key guard are merge_into's.

    ``idempotency_token``: a caller-supplied commit identity (e.g.
    a streaming micro-batch id). A token already present in the log
    makes the call a NO-OP returning the original entry — this is
    what gives the foreachBatch streaming sink exactly-once MERGE
    semantics across micro-batch replays after a crash.

    ``write_change_feed``: persist this commit's row-level changes to
    ``_changes/v00000N`` (Delta-CDF shape — computed ONCE at commit
    time from the pre/post frames, never re-derived by readers).
    Default: inherit whether the table was created with a feed."""
    import datetime

    from ..operators.merge import merge_into

    # the whole read-log -> clear-orphan -> write-snapshot -> append-log
    # sequence runs under the commit lock: concurrent local writers
    # serialize (each sees the other's committed version), and the
    # orphan sweep can never remove a snapshot another writer just
    # committed under a log this writer hasn't re-read
    with _table_commit_lock(path):
        log = _table_log_read(path)
        if idempotency_token is not None:
            for v in log["versions"]:
                if v.get("idempotency_token") == idempotency_token:
                    return dict(v, already_applied=True)
        cur = log["current"]
        target = spark.read.parquet(_snapshot_path(path, cur))
        merged = merge_into(
            target, source, on,
            matched_update=matched_update,
            matched_delete=matched_delete,
            not_matched_insert=not_matched_insert,
            matched_condition=matched_condition,
            allow_schema_evolution=allow_schema_evolution,
        )
        new_version = cur + 1
        _clear_aborted_snapshot(path, new_version)  # aborted prior commit
        merged.write.mode("errorifexists").parquet(
            _snapshot_path(path, new_version))
        write_table_stats(path, new_version)
        rows = spark.read.parquet(_snapshot_path(path, new_version)).count()
        entry = {
            "version": new_version,
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "operation": "merge",
            "rows": rows,
        }
        feed = (write_change_feed if write_change_feed is not None
                else bool(log["versions"] and
                          log["versions"][0].get("change_feed")))
        if feed:
            from pyspark.sql import functions as F

            keys = ([on] if isinstance(on, str) else list(on))
            committed = spark.read.parquet(_snapshot_path(path, new_version))
            # _commit_version rides IN the feed files so CDF consumers
            # (incl. the streaming source) can order changes per key
            # across commits without a side lookup
            _diff_frames(target, committed, keys).withColumn(
                "_commit_version", F.lit(new_version).cast("int")
            ).write.mode("overwrite").parquet(_changes_path(path, new_version))
            entry["change_feed"] = True
            entry["change_keys"] = keys
        if idempotency_token is not None:
            entry["idempotency_token"] = idempotency_token
        _table_log_append(path, log, entry)
    return entry


def vacuum_table(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (their log
    entries are retained with ``"vacuumed": true`` so history stays
    auditable; time-travel to a vacuumed version raises at read).
    Runs under the commit lock: vacuum's read-modify-write of the log
    would otherwise race a concurrent merge and clobber its freshly
    appended entry. ``keep_last`` must be >= 1: dropping every
    snapshot would leave ``log['current']`` pointing at a vacuumed
    version and make the table permanently unreadable."""
    import shutil

    if keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): vacuuming the "
            "current snapshot would make the table unreadable")
    with _table_commit_lock(path):
        log = _table_log_read(path)
        live = [v for v in log["versions"] if not v.get("vacuumed")]
        dropped = []
        for v in live[:-keep_last]:
            shutil.rmtree(_snapshot_path(path, v["version"]),
                          ignore_errors=True)
            try:
                os.remove(_stats_path(path, v["version"]))
            except FileNotFoundError:
                pass
            v["vacuumed"] = True
            dropped.append(v["version"])
        if dropped:
            tmp = os.path.join(path, TABLE_LOG + ".tmp")
            with open(tmp, "w") as f:
                json.dump(log, f, indent=2)
            os.replace(tmp, os.path.join(path, TABLE_LOG))
    return dropped


def _diff_frames(old: DataFrame, new: DataFrame,
                 keys: list[str]) -> DataFrame:
    """Row-level diff old -> new keyed on ``keys``: one full outer
    join, change classification over presence sentinels, update
    detection as null-safe inequality across non-key columns. Shared
    by table_changes (diff of two snapshots) and the per-commit
    change-feed writer. Frames are first aligned to their column
    UNION (schema evolution adds columns on the new side; taking
    data columns from ``old`` alone would silently drop the evolved
    column from the feed AND miss rows whose only change is in it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    all_cols = list(old.columns) + [c for c in new.columns
                                    if c not in old.columns]

    def pad(df, other):
        for c in all_cols:
            if c not in df.columns:
                df = df.withColumn(
                    c, F.lit(None).cast(other.schema[c].dataType))
        return df.select(*all_cols)

    old, new = pad(old, new), pad(new, old)
    data_cols = [c for c in all_cols if c not in keys]
    o = old.withColumn("__o_present", F.lit(True)).alias("__o")
    n = new.withColumn("__n_present", F.lit(True)).alias("__n")
    cond = None
    for k in keys:
        c = col(f"__o.{k}").eqNullSafe(col(f"__n.{k}"))
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full_outer")
    o_present = col("__o.__o_present").isNotNull()
    n_present = col("__n.__n_present").isNotNull()
    changed = F.lit(False)
    for c in data_cols:
        changed = changed | ~col(f"__o.{c}").eqNullSafe(col(f"__n.{c}"))

    # ONE pass over the join: each row contributes an array of change
    # entries (updates carry pre+post images) and explode emits them —
    # the former 4-branch union recomputed the full-outer join once
    # per change type (17 exchanges on the CDF query vs 5 now), which
    # at corpus scale means shuffling the merge input 4x
    def img(ctype: str, side: str):
        return F.struct(
            F.lit(ctype).alias("_change_type"),
            *[col(f"__{side}.{c}").alias(c) for c in data_cols],
        )

    entries = (
        F.when(~o_present & n_present, F.array(img("insert", "n")))
        .when(o_present & ~n_present, F.array(img("delete", "o")))
        .when(
            o_present & n_present & changed,
            F.array(img("update_preimage", "o"),
                    img("update_postimage", "n")),
        )
    )  # unchanged matched rows -> NULL array -> explode drops them
    return (
        j.select(
            *[F.coalesce(col(f"__o.{k}"), col(f"__n.{k}")).alias(k)
              for k in keys],
            F.explode(entries).alias("__e"),
        )
        .select(
            *keys,
            *[col(f"__e.{c}").alias(c) for c in data_cols],
            col("__e._change_type").alias("_change_type"),
        )
    )


def frame_changes(old: DataFrame, new: DataFrame,
                  on: str | list[str]) -> DataFrame:
    """Public row-level CDF diff between two DataFrames — the same
    insert/delete/update_preimage/update_postimage classification
    ``table_changes`` derives between committed snapshots, usable on
    any pair of frames (e.g. validating a merge before committing
    it)."""
    keys = [on] if isinstance(on, str) else list(on)
    return _diff_frames(old, new, keys)


def _changes_path(path: str, version: int) -> str:
    return os.path.join(path, "_changes", f"v{version:06d}")


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    on: str | list[str] | None = None,
) -> DataFrame:
    """Change data feed between two snapshots (Delta CDF parity):
    row-level diff of ``from_version`` -> ``to_version`` (default:
    current), keyed on ``on`` (default: the table's first column).
    Output = the union of target-schema columns plus ``_change_type``
    in {'insert', 'delete', 'update_preimage', 'update_postimage'}.

    Plan: ONE full outer join of the two snapshots on the key, change
    classification as CASE over presence sentinels, update detection
    as a null-safe inequality across all non-key columns — the same
    single key-shuffle cost class as the MERGE that produced the
    versions. Because snapshots are copy-on-write, the diff is
    computed, not logged; a file-granularity table format logs it
    instead and this surface would read that log without changing its
    output contract."""
    old = read_snapshot(spark, path, version=from_version)
    new = read_snapshot(spark, path, version=to_version)
    keys = [on] if isinstance(on, str) else list(on) if on else [old.columns[0]]
    return _diff_frames(old, new, keys)


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    sort_by: list[str] | str | None = None,
) -> dict:
    """OPTIMIZE for the versioned table: rewrite the CURRENT snapshot
    into ceil(rows / target_rows_per_file) files and commit the result
    as a new version (operation 'compact'). Readers of older versions
    are untouched; time travel still works; vacuum reclaims the
    pre-compaction snapshots. Small files accrete from streaming MERGE
    commits exactly like any streaming sink — same rationale as
    ``compact_parquet``, expressed as a table commit instead of an
    in-place swap.

    ``sort_by`` additionally CLUSTERS the rewrite (range-partition +
    sort-within-files, the ``save_to_disk`` layout lever): files then
    cover disjoint key ranges so row-group min/max statistics prune
    point/range scans on those keys — OPTIMIZE ... ZORDER's practical
    single-dimension equivalent, paid once at compaction."""
    import datetime

    with _table_commit_lock(path):
        log = _table_log_read(path)
        cur = log["current"]
        df = spark.read.parquet(_snapshot_path(path, cur))
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))
        new_version = cur + 1
        _clear_aborted_snapshot(path, new_version)
        if sort_by:
            sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            out = df.repartitionByRange(n_files, *sort_by)                     .sortWithinPartitions(*sort_by)
        else:
            out = df.repartition(n_files)
        out.write.mode("errorifexists").parquet(
            _snapshot_path(path, new_version))
        write_table_stats(path, new_version)
        entry = {
            "version": new_version,
            "timestamp": datetime.datetime.now(
                datetime.timezone.utc).isoformat(),
            "operation": "compact",
            "rows": n,
            "files": n_files,
        }
        _table_log_append(path, log, entry)
    return entry


def read_change_feed(
    spark: SparkSession,
    path: str,
    from_version: int = 0,
    to_version: int | None = None,
) -> DataFrame:
    """Read the PERSISTED change feed for versions
    ``from_version..to_version`` inclusive (commits made with
    ``write_change_feed``). Unlike ``table_changes`` (which diffs the
    two endpoint snapshots), this concatenates every intermediate
    commit's changes — a row updated twice appears twice, as a CDC
    consumer expects. Physical-only commits ('compact' rewrites) carry
    no logical changes and never write a feed — they are skipped, the
    same way the streaming reader (table_source) skips them. Raises
    only when a DATA-CHANGING version in range lacks a feed."""
    log = _table_log_read(path)
    hi = log["current"] if to_version is None else to_version
    wanted = [v for v in log["versions"]
              if from_version <= v["version"] <= hi]
    # compact is a physical rewrite: same logical rows, zero changes
    wanted = [v for v in wanted if v.get("operation") != "compact"]
    missing = [v["version"] for v in wanted if not v.get("change_feed")]
    if missing:
        raise ValueError(
            f"versions {missing} of {path!r} were committed without "
            "write_change_feed — use table_changes() to compute a diff, "
            "or re-create the table with a feed")
    from pyspark.sql import functions as F

    out = None
    for v in wanted:
        df = spark.read.parquet(_changes_path(path, v["version"]))
        if "_commit_version" not in df.columns:  # feeds written pre-r8.1
            df = df.withColumn(
                "_commit_version", F.lit(v["version"]).cast("int"))
        # allowMissingColumns: schema evolution widens later feeds
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True)
    if out is None:
        raise ValueError(
            f"no change-carrying versions in range {from_version}..{hi}"
            " (compact-only ranges have no logical changes)")
    return out


# ------------------------------------------------------- data skipping

def _stats_path(path: str, version: int) -> str:
    return os.path.join(path, STATS_DIR, f"v{version:07d}.json")


def _stat_encode(v):
    """JSON-safe tagged encoding for a parquet column statistic. Only
    orderable, faithfully-roundtrippable types participate in pruning;
    anything else returns None and the column is left unprunable."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None  # booleans: not worth pruning; None: no stat
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        return ["f", v]
    if isinstance(v, str):
        return ["s", v]
    if isinstance(v, datetime.datetime):
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    if isinstance(v, decimal.Decimal):
        return ["dec", str(v)]
    return None


def _stat_decode(tagged):
    import datetime
    import decimal

    tag, v = tagged
    if tag in ("i", "f", "s"):
        return v
    if tag == "ts":
        return datetime.datetime.fromisoformat(v)
    if tag == "d":
        return datetime.date.fromisoformat(v)
    if tag == "dec":
        return decimal.Decimal(v)
    raise ValueError(f"unknown stat tag {tag!r}")


def collect_file_stats(snapshot_dir: str) -> dict:
    """Per-FILE column min/max from the parquet FOOTERS of a snapshot
    directory — no data pages are read. Shape:

        {file_basename: {column: {"min": tagged, "max": tagged}}}

    A column appears for a file only when EVERY row group in that file
    carries usable min/max statistics (a single stats-less row group
    makes the file unprunable on that column — pruning must never be
    a guess). This is the Delta-style file-skipping index, derived
    from metadata parquet already wrote for free."""
    import glob as _glob

    import pyarrow.parquet as pq

    out = {}
    for f in sorted(_glob.glob(os.path.join(snapshot_dir, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        cols: dict = {}
        complete: set = set()
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for c_i in range(rg.num_columns):
                cc = rg.column(c_i)
                name = cc.path_in_schema
                if "." in name:  # nested leaf: skip (filters are top-level)
                    continue
                st = cc.statistics
                if (st is None or not st.has_min_max
                        or st.min is None or st.max is None):
                    cols.pop(name, None)
                    complete.add(name)  # poisoned: never re-add
                    continue
                if name in complete and name not in cols:
                    continue
                lo, hi = _stat_encode(st.min), _stat_encode(st.max)
                if lo is None or hi is None or lo[0] != hi[0]:
                    cols.pop(name, None)
                    complete.add(name)
                    continue
                prev = cols.get(name)
                if prev is None:
                    cols[name] = {"min": lo, "max": hi}
                else:
                    if _stat_decode(lo) < _stat_decode(prev["min"]):
                        prev["min"] = lo
                    if _stat_decode(hi) > _stat_decode(prev["max"]):
                        prev["max"] = hi
                complete.add(name)
        out[os.path.basename(f)] = cols
    return out


def write_table_stats(path: str, version: int) -> dict:
    """Collect and persist the file-skipping index for a committed
    snapshot (atomic JSON sidecar under ``_stats/``)."""
    stats = collect_file_stats(_snapshot_path(path, version))
    os.makedirs(os.path.join(path, STATS_DIR), exist_ok=True)
    tmp = _stats_path(path, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, _stats_path(path, version))
    return stats


def _load_table_stats(path: str, version: int) -> dict | None:
    p = _stats_path(path, version)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


_PRUNE_OPS = {"=", "==", "<", "<=", ">", ">=", "in"}


def _file_may_match(col_stats: dict, op: str, value) -> bool:
    """Can ANY row in a file with these [min, max] bounds satisfy
    ``col op value``? SQL comparison semantics: NULL rows never
    satisfy a comparison, so min/max of the non-null values are a
    sound bound regardless of nulls in the file."""
    lo = _stat_decode(col_stats["min"])
    hi = _stat_decode(col_stats["max"])
    try:
        if op in ("=", "=="):
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
        if op == "in":
            return any(lo <= v <= hi for v in value)
    except TypeError:
        return True  # cross-type comparison: cannot prove, keep
    return True


def prune_snapshot_files(path: str, version: int,
                         filters: list[tuple]) -> tuple[list[str], int]:
    """Apply the file-skipping index: returns (kept absolute file
    paths, total file count). ``filters`` is a conjunction of
    ``(column, op, value)`` with op in =, ==, <, <=, >, >=, in.
    Files without stats for a filtered column are conservatively
    kept; an unknown op raises (a typo must not silently disable
    pruning)."""
    for _, op, _v in filters:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r} (use {sorted(_PRUNE_OPS)})")
    stats = _load_table_stats(path, version)
    if stats is None:
        stats = write_table_stats(path, version)  # backfill older tables
    snap = _snapshot_path(path, version)
    kept = []
    for fname, cols in stats.items():
        ok = True
        for c, op, v in filters:
            cs = cols.get(c)
            if cs is None:
                continue  # no stats: cannot prune on this column
            if not _file_may_match(cs, op, v):
                ok = False
                break
        if ok:
            kept.append(os.path.join(snap, fname))
    return kept, len(stats)


def read_snapshot_where(
    spark: SparkSession,
    path: str,
    filters: list[tuple],
    version: int | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """``read_snapshot`` with Delta-style data skipping: consults the
    per-file min/max index to schedule tasks ONLY for files whose
    bounds can satisfy the (conjunctive) ``filters``, then applies the
    same filters as residual predicates (Spark additionally prunes row
    groups inside the kept files via the pushed-down parquet stats —
    this layer removes whole files from planning, which is what
    matters at 100k-file scale where per-file footer opens dominate).
    At read of a never-indexed version the index is backfilled once
    from the parquet footers (metadata-only, no data scan)."""
    from pyspark.sql import functions as F

    # resolve version exactly like read_snapshot (incl. vacuum guard)
    full = read_snapshot(spark, path, version=version, as_of=as_of)
    log = _table_log_read(path)
    if as_of is not None:
        version = [v for v in log["versions"]
                   if v["timestamp"] <= as_of][-1]["version"]
    if version is None:
        version = log["current"]

    def residual(df: DataFrame) -> DataFrame:
        import operator as _op

        cmp = {"<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
        for c, op, v in filters:
            if op in ("=", "=="):
                df = df.filter(F.col(c) == F.lit(v))
            elif op == "in":
                df = df.filter(F.col(c).isin(list(v)))
            else:
                df = df.filter(cmp[op](F.col(c), F.lit(v)))
        return df

    kept, total = prune_snapshot_files(path, version, filters)
    if len(kept) == total:
        return residual(full)
    if not kept:  # every file provably empty for these filters
        return residual(full.limit(0))
    return residual(
        spark.read.schema(full.schema).parquet(*kept))
