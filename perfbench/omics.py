"""The ``omics_load`` workload: biosets' own ingest path on a generated
omics directory, from ``load_dataset`` to a fingerprint-cache hit."""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.sparkstats import Counters

SAMPLES = 20_000
FEATURES = 20
BATCHES = 4
POSITIVE = "case"
STEPS = ("load", "split", "write", "materialize_miss", "rerun")


def generate(out: Path, seed: int, samples: int = SAMPLES, features: int = FEATURES) -> dict:
    """Write data.csv, sample_metadata.csv and feature_metadata.csv
    under ``out``; return the truth the checks compare against."""
    import numpy as np

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    values = rng.integers(0, 5000, size=(samples, features))
    disease = rng.random(samples) < 0.3
    order = rng.permutation(samples)
    feat = [f"gene_{j}" for j in range(features)]
    with open(out / "data.csv", "w") as f:
        f.write("sample,batch," + ",".join(feat) + "\n")
        for i in order:
            f.write(f"S{i},B{i % BATCHES}," + ",".join(map(str, values[i])) + "\n")
    with open(out / "sample_metadata.csv", "w") as f:
        f.write("sample,age,sex,disease\n")
        for i in rng.permutation(samples):
            label = POSITIVE if disease[i] else "control"
            f.write(f"S{i},{20 + i % 60},{'FM'[i % 2]},{label}\n")
    with open(out / "feature_metadata.csv", "w") as f:
        f.write("feature,chrom,gene_type\n")
        for j, name in enumerate(feat):
            f.write(f"{name},chr{1 + j % 22},{'protein_coding' if j % 3 else 'lncRNA'}\n")
    return {"rows": samples, "features": features, "positives": int(disease.sum())}


def dir_bytes(path: Path) -> int:
    """Bytes of a file, or of every file under a directory."""
    if path.is_file():
        return path.stat().st_size
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def cache_entries(path: Path) -> int:
    return len([d for d in path.iterdir() if d.name.startswith("cache-")]) if path.exists() else 0


@dataclass
class Pass:
    wall_s: float
    steps: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    counters: Counters = field(default_factory=Counters)
    written_bytes: int = 0

    @property
    def op_latencies(self) -> dict[str, float]:
        return self.steps


class OmicsWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.input = ctx.work / "omics_input"
        self.passes = 0
        self.attempted = 0
        self.failed = 0
        self.msgs: list[str] = []

    def prepare(self) -> None:
        self.truth = generate(self.input, self.ctx.seed)
        self.input_bytes = dir_bytes(self.input)

    def _load(self):
        from biosets_spark import load_dataset

        return load_dataset(str(self.input), positive_labels=[POSITIVE], spark=self.ctx.spark)

    def run_pass(self, tracer) -> Pass:
        groups = self.ctx.groups
        self.passes += 1
        out = self.ctx.work / f"omics_out_{self.passes}"
        shutil.rmtree(out, ignore_errors=True)
        parquet, cache = out / "parquet", out / "cache"
        steps: dict[str, float] = {}
        layer: dict[str, float] = {}
        names: list[str] = []

        def step(name: str):
            names.append(groups.start(f"omics/{name}"))
            return time.perf_counter()

        t_pass = time.perf_counter()
        try:
            with tracer.span("bench", "pass"):
                t = step("load")
                with tracer.span("load", "load_dataset"):
                    ds = self._load()
                layer["load.load_dataset_s"] = time.perf_counter() - t
                load_group = names[-1]
                t1 = step("first_count")
                with tracer.span("dataset", "num_rows"):
                    n = ds.num_rows
                t2 = time.perf_counter()
                steps["load"] = t2 - t
                layer["load.first_count_s"] = t2 - t1

                t = step("split")
                with tracer.span("dataset", "train_test_split"):
                    parts = ds.train_test_split(test_size=0.25, seed=self.ctx.seed)
                    n_split = parts["train"].num_rows + parts["test"].num_rows
                steps["split"] = time.perf_counter() - t

                t = step("write")
                with tracer.span("dataset", "to_parquet"):
                    ds.to_parquet(str(parquet))
                steps["write"] = time.perf_counter() - t

                t = step("materialize_miss")
                before = cache_entries(cache)
                with tracer.span("dataset", "materialize_miss"):
                    miss = ds.materialize(str(cache))
                steps["materialize_miss"] = time.perf_counter() - t
                missed = cache_entries(cache) > before

                t = step("rerun")
                before = cache_entries(cache)
                with tracer.span("bench", "rerun"):
                    with tracer.span("load", "load_dataset"):
                        ds2 = self._load()
                    t1 = time.perf_counter()
                    with tracer.span("dataset", "materialize_hit"):
                        hit = ds2.materialize(str(cache))
                    layer["dataset.materialize_hit_s"] = time.perf_counter() - t1
                    step("rerun_count")
                    with tracer.span("dataset", "num_rows"):
                        n_hit = hit.num_rows
                steps["rerun"] = time.perf_counter() - t
                hit_ok = cache_entries(cache) == before
            wall = time.perf_counter() - t_pass
        except Exception as e:  # the pass is lost; every step counts as failed
            self.attempted += len(STEPS)
            self.failed += len(STEPS)
            self.msgs.append(f"pass {self.passes} raised {type(e).__name__}: {e}")
            shutil.rmtree(out, ignore_errors=True)
            return None

        p = Pass(wall, steps, layer)
        p.counters = groups.counters(*names)
        p.written_bytes = dir_bytes(parquet) + dir_bytes(cache) + p.counters.shuffle_write_bytes
        layer["dataset.train_test_split_s"] = steps["split"]
        layer["dataset.to_parquet_s"] = steps["write"]
        layer["dataset.to_parquet_bytes"] = dir_bytes(parquet)
        layer["dataset.materialize_miss_s"] = steps["materialize_miss"]
        layer["plans.cache_hit_ratio"] = (int(hit_ok) + int(not missed)) / 2
        layer["load.build_jobs"] = groups.counters(load_group).jobs
        layer["pipeline.load_s"] = steps["load"]
        layer["pipeline.rerun_s"] = steps["rerun"]
        self._check(ds, parquet, dict(rows=n, split_rows=n_split, missed=missed, hit=hit_ok,
                                      hit_rows=n_hit, fingerprints=(miss.fingerprint, hit.fingerprint)))
        if tracer.enabled:
            self._probe_layers(tracer, ds, layer)
        shutil.rmtree(out, ignore_errors=True)
        return p

    def _check(self, ds, parquet: Path, got: dict) -> None:
        """Compare one pass's outputs with the generator's truth."""
        from pyspark.sql import functions as F

        from biosets_spark.operators.labels import TARGET_COLUMN
        from biosets_spark.schema import roles

        truth = self.truth
        self.ctx.groups.start("check")
        want_roles = {roles.ROLE_SAMPLE: 1, roles.ROLE_BATCH: 1, roles.ROLE_METADATA: 2,
                      roles.ROLE_FEATURE: truth["features"], roles.ROLE_TARGET: 2}
        got["roles"] = {r: len(roles.columns_with_role(ds.df, r)) for r in want_roles}
        got["positives"] = ds.df.filter(F.col(TARGET_COLUMN) == 1).count()
        got["parquet_rows"] = self.ctx.spark.read.parquet(str(parquet)).count()
        rows = truth["rows"]
        failures = {
            "load": (got["rows"] != rows or got["roles"] != want_roles
                     or got["positives"] != truth["positives"]),
            "split": got["split_rows"] != rows,
            "write": got["parquet_rows"] != rows,
            "materialize_miss": not got["missed"],
            "rerun": (not got["hit"] or got["hit_rows"] != rows
                      or got["fingerprints"][0] != got["fingerprints"][1]),
        }
        self.attempted += len(failures)
        for name, bad in failures.items():
            if bad:
                self.failed += 1
                self.msgs.append(f"pass {self.passes} step {name}: got {got}, truth {truth}")

    def _probe_layers(self, tracer, ds, layer: dict) -> None:
        """Time the layers load_dataset is built from, one call each."""
        from biosets_spark.operators import joins, labels
        from biosets_spark.plans.fingerprint import plan_fingerprint
        from biosets_spark.schema import roles
        from biosets_spark.sources import discovery, readers

        spark, groups = self.ctx.spark, self.ctx.groups

        def timed(layer_name: str, name: str, fn):
            with tracer.span(layer_name, name):
                t = time.perf_counter()
                out = fn()
                layer[f"{layer_name}.{name}_s"] = time.perf_counter() - t
            return out

        found = timed("sources", "discover", lambda: discovery.discover(str(self.input), spark=spark))
        g = groups.start("probe/read_files")
        raw = timed("sources", "read_files", lambda: readers.read_files(spark, found["data_files"]))
        layer["sources.read_files_jobs"] = groups.counters(g).jobs
        meta = readers.read_files(spark, found["sample_metadata_files"])
        joined = timed("operators", "join_sample_metadata",
                       lambda: joins.join_sample_metadata(raw, meta, "sample", "sample"))

        def tag_all():
            df = joined
            for c in joined.columns:
                df = roles.with_role(df, c, roles.ROLE_FEATURE)
            return df

        tagged = timed("schema", "tag_all_columns", tag_all)
        timed("schema", "apply_roles", lambda: roles.apply_roles(joined, roles.roles_snapshot(tagged)))
        timed("operators", "encode_labels",
              lambda: labels.encode_labels(joined, "disease", positive_labels=[POSITIVE]))
        timed("plans", "plan_fingerprint", lambda: plan_fingerprint(ds.df))

    def bytes_written(self, p: Pass) -> int:
        return p.written_bytes

    def check(self) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.msgs

    def layer_metrics(self, p: Pass) -> dict[str, float]:
        m = dict(p.layer)
        for k, v in vars(p.counters).items():
            m[f"spark.{k}"] = v
        m["spark.slot_busy_ratio"] = p.counters.executor_run_s / (p.wall_s * self.ctx.cores)
        return m
