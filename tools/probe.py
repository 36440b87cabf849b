"""Per-rep build/execute walls and Spark counters of registered queries.

Usage: python tools/probe.py [-r REPS] NAME [NAME ...]

Reads the tables under biosets_spark.tables.DEFAULT_SF_DIR
($SPARK_GRAFT_SF_DIR, default sf0.1). Every rep first releases the pins
and the cache the previous rep left, so each rep pays the cold one-pass
regime a bench pass pays. ``fn()`` (build: plan construction plus any
decision jobs the operators run eagerly) and ``collect()`` (execute)
each run under their own job group; then the rep releases its pins and
clears the cache again, as a bench pass does after every query. One
JSON line per rep reports:

  build_s, exec_s            the two phase walls
  build_jobs, exec_jobs      Spark jobs per phase
  stages, shuffle_write_bytes, spill_bytes
                             {"build": ..., "exec": ...} per phase
  jobs                       [{id, phase, duration_s, stages, tasks}]
  pins_released              frames release_pinned_indexes() freed
  persisted_after_release    RDDs still persisted after that release;
                             anything above 0 is a pin that outlived
                             its query

Every counter comes from the in-process status store
(perfbench.sparkstats), so the Spark UI stays disabled. Stage and task
counts leave out stages skipped by shuffle reuse.

Same-window A/B: run it alternately on two trees; the counters compare
exactly, the walls only by their spread over the reps.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__  # noqa: E402,F401  (registers the inventory)

from biosets_spark import queries as _q  # noqa: E402
from biosets_spark import release_pinned_indexes  # noqa: E402
from biosets_spark.tables import DEFAULT_SF_DIR  # noqa: E402
from biosets_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import JobGroups, persisted_rdds  # noqa: E402

PHASES = ("build", "exec")


def _jobs(spark, phase: str, group: str) -> list[dict]:
    """Per-job rows of one phase's job group (read after
    ``JobGroups.counters`` has drained the listener bus)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        j = store.job(job_id)
        done, sub = j.completionTime(), j.submissionTime()
        out.append({
            "id": job_id,
            "phase": phase,
            "duration_s": (done.get().getTime() - sub.get().getTime()) / 1e3
            if done.isDefined() and sub.isDefined() else None,
            "stages": j.stageIds().size() - j.numSkippedStages(),
            "tasks": j.numTasks() - j.numSkippedTasks(),
        })
    return out


def run_rep(spark, groups: JobGroups, name: str, sf_dir: str) -> dict:
    """One cold rep of query ``name``: release, build, collect, release,
    count."""
    release_pinned_indexes()
    spark.catalog.clearCache()
    build = groups.start(f"{name}/build")
    t0 = time.perf_counter()
    df = _q.QUERIES[name].fn(spark, sf_dir)
    t1 = time.perf_counter()
    execute = groups.start(f"{name}/exec")
    df.collect()
    t2 = time.perf_counter()
    released = release_pinned_indexes()
    spark.catalog.clearCache()
    c = {"build": groups.counters(build), "exec": groups.counters(execute)}
    return {
        "name": name,
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "build_jobs": c["build"].jobs,
        "exec_jobs": c["exec"].jobs,
        "stages": {p: c[p].stages for p in PHASES},
        "shuffle_write_bytes": {p: c[p].shuffle_write_bytes for p in PHASES},
        "spill_bytes": {p: c[p].spill_bytes for p in PHASES},
        "jobs": _jobs(spark, "build", build) + _jobs(spark, "exec", execute),
        "pins_released": released,
        "persisted_after_release": persisted_rdds(spark),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        prog="tools/probe.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("-r", dest="reps", type=int, default=3,
                    help="reps per query (default 3)")
    ap.add_argument("names", nargs="+", metavar="NAME", help="registered query name")
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in _q.QUERIES]
    if unknown:
        ap.error(f"unregistered query: {', '.join(unknown)}")
    # the status store drops the oldest stages and jobs past these
    # limits (default 1000), which a sweep of every query overruns
    spark = get_spark("biosets-spark-probe", extra_conf={
        "spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
    # warm-up as bench.py: JVM, codegen, parquet footers, Python workers
    spark.read.parquet(os.path.join(DEFAULT_SF_DIR, "lineitem.parquet")).count()
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()
    groups = JobGroups(spark)
    for name in args.names:
        for rep in range(args.reps):
            rec = {"rep": rep, **run_rep(spark, groups, name, DEFAULT_SF_DIR)}
            print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
