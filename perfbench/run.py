"""Closed-loop benchmark of biosets_spark.

    python3 perfbench/run.py --workload corpus|omics_load \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client issues one operation at a
time on ``local[<cores>]``; each waits for the previous one. A run
starts the session and runs warm-up passes (set-up), then measures
whole passes for about ``--seconds`` seconds, checks every output it
produced and prints one JSON object as the last line of stdout. With
``--trace 0`` it reports the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it alternates untraced and traced passes and reports the
per-layer metrics, and writes the traced spans as JSON lines to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
Details (failures, the order statistics behind each figure) go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402
from perfbench.tracing import Tracer, self_time_by_layer  # noqa: E402

WORKLOADS = ("corpus", "omics_load")
# Per-layer metrics (name prefixes) of the layers a workload never
# calls. They read 0 on that workload; every other per-layer metric
# must be produced, or the run fails.
NOT_CALLED = {
    "corpus": ("load.", "sources.", "schema.", "dataset.", "plans.", "pipeline.",
               "operators.join_sample_metadata_s", "operators.encode_labels_s",
               "self.load_s", "self.sources_s", "self.schema_s", "self.dataset_s",
               "self.operators_s", "self.plans_s"),
    "omics_load": ("queries.", "spark.exec_s", "q_", "operators.pins_released",
                   "operators.persisted_after_release", "self.queries_s",
                   "self.spark_s", "self.operators.joins_s"),
}
# The working set is a few MB. Each run starts a fresh JVM whose heap is
# pre-sized (-Xms, as session.py does), and at 4g it touched ~4.7 GB of
# fresh memory per run: on a 4-vCPU VM pass_s then spread 0.3 from run
# to run, against 0.07 at 2g.
DRIVER_MEMORY = "2g"
# With the JVM's default tiered compilation, corpus passes kept falling
# for ~20 passes (6.1 s to 3.6 s over 150 s on 4 vCPUs). A run of about a
# minute stops partway down that curve, and how far down depends on how
# fast the compiler threads got CPU on a loaded host. The driver JVM
# therefore stops at the C1 tier: its pass times level off after the
# first, cold pass. Over five seeds, one warm-up pass with a longer
# measurement spread no less than two.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
WARMUP_PASSES = 2


@dataclass
class Ctx:
    seed: int
    work: Path
    cores: int
    spark: object = None
    groups: object = None
    oracle: object = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def require_checkout() -> dict:
    """The program under test must sit beside the benchmark."""
    needed = ["BENCHMARK.json", "__spark_entry__.py", "biosets_spark/__init__.py",
              "tools/check_oracle.py"]
    missing = [p for p in needed if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a biosets_spark checkout ({ROOT}): missing {missing}")
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def configure_env(work: Path, cores: int) -> None:
    """Environment the session and its Python workers start from."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the workers unpickle query UDFs that import biosets_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)


def start_session(work: Path):
    from biosets_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} {JIT_OPTS} -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'derby'}"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # The counters of a call are read back from the status store. At
        # the default limit of 1,000 stages it starts evicting, skipped
        # stages first, and a run of a few minutes loses stages it still
        # has to read.
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
    })


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, ctx: Ctx):
    if name == "omics_load":
        from perfbench.omics import OmicsWorkload

        return OmicsWorkload(ctx)
    from perfbench.querywork import CorpusWorkload

    return CorpusWorkload(ctx)


def per_layer_values(workload: str, layer: dict, wanted: list[dict]) -> dict[str, float]:
    """Every wanted per-layer metric: as produced, or 0 for a layer the
    workload never calls. A metric that is missing, or produced for a
    layer declared not called, raises."""
    skipped = NOT_CALLED[workload]
    values, missing, stray = {}, [], []
    for m in wanted:
        name = m["name"]
        if name.startswith(skipped):
            if name in layer:
                stray.append(name)
            values[name] = 0.0
        elif name in layer:
            values[name] = layer[name]
        else:
            missing.append(name)
    if missing or stray:
        raise RuntimeError(f"{workload}: per-layer metrics missing {missing}, "
                           f"produced for layers not called {stray}")
    return values


def measure(wl, seconds: float, traced: bool, run_id: str):
    """Whole passes for about ``seconds``: a pass starts while the
    passes so far leave room for one more of the median length. With
    tracing, untraced and traced passes alternate in ABBA order, at least
    two each, so ``trace.overhead_s`` compares medians and a drift in
    speed during the run biases neither side."""
    tracers = {False: Tracer(run_id, enabled=False), True: Tracer(run_id, enabled=True)}
    passes = {False: [], True: []}
    lost = 0
    kinds = (False, True) if traced else (False,)
    least = 2 if traced else 1
    t0 = time.perf_counter()
    for round_no in itertools.count():
        if all(len(passes[k]) >= least for k in kinds):
            walls = [p.wall_s for ps in passes.values() for p in ps]
            if time.perf_counter() - t0 + stats.median(walls) * len(kinds) > seconds:
                break
        for k in (kinds if round_no % 2 == 0 else kinds[::-1]):
            p = wl.run_pass(tracers[k])
            if p is None:  # the pass raised; its steps are counted as failed
                lost += 1
                if lost >= 3:
                    raise RuntimeError("three passes raised")
                continue
            passes[k].append(p)
    return passes, tracers[True]


def median_of(passes, fn) -> float:
    return stats.median([fn(p) for p in passes])


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = require_checkout()
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)
    ctx = Ctx(seed=args.seed, work=work, cores=cores)
    spark = None
    try:
        wl = make_workload(args.workload, ctx)
        wl.prepare()
        from perfbench.sparkstats import JobGroups, jvm_peak_rss_mb

        t = time.perf_counter()
        spark = ctx.spark = start_session(work)
        ctx.groups = JobGroups(spark)
        start_s = time.perf_counter() - t
        if args.workload != "omics_load":
            from perfbench.oracle import Oracle

            ctx.oracle = Oracle(ROOT, wl.data_dir, wl.tables)
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            if wl.run_pass(Tracer("warmup", enabled=False)) is None:
                raise RuntimeError("warm-up pass failed: " + "; ".join(wl.check()[2]))
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        passes, tracer = measure(wl, args.seconds, bool(args.trace), f"{args.workload}-{args.seed}")
        plain = passes[False]
        attempted, failed, msgs = wl.check()
        for m in msgs:
            print(f"perfbench: FAILED {m}", file=sys.stderr)
        by_op: dict[str, list[float]] = {}
        for p in plain:
            for name, v in p.op_latencies.items():
                by_op.setdefault(name, []).append(v)
        lat = [x for v in by_op.values() for x in v]
        tail_p = stats.tail_percentile(len(lat))
        detail = {
            "passes": len(plain), "pass_s": [p.wall_s for p in plain],
            "op_s": by_op, "query_samples": len(lat),
            "query_tail": ({"percentile": tail_p, "value_s": stats.percentile(lat, tail_p)}
                           if tail_p else "fewer than 20 samples"),
            "cores": cores, "attempted": attempted, "failed": failed,
        }
        if args.trace:
            detail["traced_pass_s"] = [p.wall_s for p in passes[True]]
        print("perfbench: " + json.dumps(detail), file=sys.stderr)

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": median_of(plain, lambda p: p.wall_s),
                "query_p50_s": stats.median([stats.median(v) for v in by_op.values()]),
                "bytes_written_per_input_byte": median_of(
                    plain, lambda p: wl.bytes_written(p) / wl.input_bytes),
            }
            wanted = spec["end_to_end"]
        else:
            traced = passes[True]
            per_pass = [wl.layer_metrics(p) for p in traced]
            layer = {k: stats.median([m[k] for m in per_pass]) for k in per_pass[0]}
            for name, v in self_time_by_layer(tracer.spans).items():
                layer[f"self.{name}_s"] = v / len(traced)
            layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "trace.overhead_s": (median_of(traced, lambda p: p.wall_s)
                                     - median_of(plain, lambda p: p.wall_s)),
                "failed_ratio": failed / attempted,
            })
            tracer.write(str(ROOT / ".perfbench_work" / f"spans-{args.workload}-{args.seed}.jsonl"))
            values = per_layer_values(args.workload, layer, spec["per_layer"])
            wanted = spec["per_layer"]
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }
    finally:
        if ctx.oracle is not None:
            ctx.oracle.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
