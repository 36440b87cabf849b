"""The ``corpus`` workload: oracle-backed LLM-corpus queries from the
query inventory, issued one at a time in a seeded order."""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.omics import dir_bytes
from perfbench.sparkstats import Counters, persisted_rdds

CORPUS = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_kmeans_lloyd",
    "q_text_quality_score",
]
CORPUS_TABLES = ["documents", "embeddings", "events"]
# scale of the read-only test tables the queries read
SCALE = "sf0.01"

# Queries whose build and execute costs are reported one by one.
HOT = ["q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_kmeans_lloyd"]


@dataclass
class Call:
    name: str
    build_s: float
    exec_s: float
    groups: tuple[str, str]
    released: int
    persisted: int = 0
    build: Counters | None = None
    exec: Counters | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    wall_s: float
    calls: list[Call]
    counters: Counters = field(default_factory=Counters)

    @property
    def op_latencies(self) -> dict[str, float]:
        return {c.name: c.latency_s for c in self.calls}


class CorpusWorkload:
    def __init__(self, ctx):
        from biosets_spark.tables import DEFAULT_SF_DIR

        self.ctx = ctx
        self.names = CORPUS
        self.data_dir = str(Path(DEFAULT_SF_DIR).parent / SCALE)
        self.tables = CORPUS_TABLES
        self.order_rng = random.Random(ctx.seed)
        self.results: list[tuple[str, object]] = []
        self.errors: list[tuple[str, str]] = []

    def prepare(self) -> None:
        missing = [t for t in self.tables
                   if not (Path(self.data_dir) / f"{t}.parquet").exists()]
        if missing:
            raise FileNotFoundError(f"{self.data_dir}: missing tables {missing}")
        self.input_bytes = sum(dir_bytes(Path(self.data_dir) / f"{t}.parquet") for t in self.tables)

    def run_pass(self, tracer) -> Pass:
        from biosets_spark import queries as Q
        from biosets_spark import release_pinned_indexes

        ctx, spark, groups = self.ctx, self.ctx.spark, self.ctx.groups
        order = list(self.names)
        self.order_rng.shuffle(order)
        calls: list[Call] = []
        raw: list[tuple[str, object, list]] = []
        t_pass = time.perf_counter()
        with tracer.span("bench", "pass"):
            for name in order:
                with tracer.span("bench", name):
                    gb = groups.start(f"{name}/build")
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("queries", f"{name}.fn"):
                            df = Q.QUERIES[name].fn(spark, self.data_dir)
                        t1 = time.perf_counter()
                        ge = groups.start(f"{name}/exec")
                        with tracer.span("spark", f"{name}.collect"):
                            rows = df.collect()
                        t2 = time.perf_counter()
                    except Exception as e:  # a failing query counts, the pass goes on
                        self.errors.append((name, f"{type(e).__name__}: {e}"))
                        df = rows = None
                        t1 = t2 = time.perf_counter()
                        ge = gb
                    with tracer.span("operators.joins", "release"):
                        released = release_pinned_indexes()
                        spark.catalog.clearCache()
                call = Call(name, t1 - t0, t2 - t1, (gb, ge), released)
                if tracer.enabled:
                    call.persisted = persisted_rdds(spark)
                    call.build = groups.counters(gb)
                    call.exec = groups.counters(ge) if ge != gb else Counters()
                calls.append(call)
                if df is not None:
                    raw.append((name, df, rows))
        wall = time.perf_counter() - t_pass
        p = Pass(wall, calls)
        p.counters = groups.counters(*(g for c in calls for g in set(c.groups)))
        for name, df, rows in raw:
            self.results.append((name, ctx.oracle.spark_result(df, rows)))
        return p

    def bytes_written(self, p: Pass) -> int:
        return p.counters.shuffle_write_bytes

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, messages) over every query run so far."""
        msgs = [f"{n}: raised {e}" for n, e in self.errors]
        for name, got in self.results:
            problems = self.ctx.oracle.check(name, got)
            if problems:
                msgs.append(f"{name}: " + "; ".join(problems))
        return len(self.results) + len(self.errors), len(msgs), msgs

    def layer_metrics(self, p: Pass) -> dict[str, float]:
        build = sum(c.build_s for c in p.calls)
        exe = sum(c.exec_s for c in p.calls)
        total = Counters()
        build_jobs = 0
        for c in p.calls:
            total += c.build
            total += c.exec
            build_jobs += c.build.jobs
        m = {
            "queries.build_s": build,
            "queries.build_jobs": build_jobs,
            "queries.build_share": build / (build + exe) if build + exe else 0.0,
            "spark.exec_s": exe,
            "spark.slot_busy_ratio": total.executor_run_s / (p.wall_s * self.ctx.cores),
            "operators.pins_released": sum(c.released for c in p.calls),
            "operators.persisted_after_release": sum(c.persisted for c in p.calls),
        }
        for k, v in vars(total).items():
            m[f"spark.{k}"] = v
        for c in p.calls:
            if c.name in HOT:
                m[f"{c.name}.build_s"] = c.build_s
                m[f"{c.name}.exec_s"] = c.exec_s
                m[f"{c.name}.build_jobs"] = c.build.jobs
                m[f"{c.name}.stages"] = c.build.stages + c.exec.stages
                m[f"{c.name}.shuffle_write_bytes"] = (
                    c.build.shuffle_write_bytes + c.exec.shuffle_write_bytes)
        return m
