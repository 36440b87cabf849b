"""Multimodal payload-pruning proof (VERDICT r9, item 4): a
metadata-only query over a table with large binary payloads must
never read the payload column — the scan's ReadSchema is the
contract. The measured bytes-read ratio lives in
tools/scale_probe_r10b.py @ 4494a9f / PERFORMANCE.md; this pins the plan shape
that makes the ratio hold at any scale."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("media") / "media.parquet")
    # 2k rows x 4 KiB payloads: big enough that an unpruned scan is
    # visibly wrong, small enough for the suite
    (
        spark.range(2000)
        .select(
            F.col("id").alias("media_id"),
            F.encode(
                F.rpad(F.md5(F.col("id").cast("string")), 4096, "x"), "utf-8"
            ).cast("binary").alias("payload"),
            F.struct(
                F.lit("image").alias("modality"),
                F.lit("image/bmp").alias("mime"),
                (F.pmod(F.col("id"), 1024) + 1).cast("int").alias("width"),
                F.lit(512).cast("int").alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(None).cast("int").alias("sample_rate"),
            ).alias("media_meta"),
        )
        .write.parquet(out)
    )
    return out


def _read_schema_of_scan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # keep only the scan node lines (ReadSchema appears in the
    # FileSourceScan metadata)
    return "".join(ln for ln in plan.splitlines() if "ReadSchema" in ln)


def test_metadata_only_query_prunes_payload(spark, media_path):
    spark.conf.set("spark.sql.maxMetadataStringLength", "8192")
    df = (
        spark.read.parquet(media_path)
        .filter(F.col("media_meta.width") > 512)
        .groupBy("media_meta.mime")
        .agg(F.count("*").alias("n"), F.avg("media_meta.width").alias("w"))
    )
    rs = _read_schema_of_scan(df)
    assert "media_meta" in rs
    assert "payload" not in rs, f"payload column not pruned: {rs}"
    assert df.collect()[0]["n"] == pytest.approx(2000 * 511 / 1024, abs=60)


def test_metadata_filter_is_pushed_down(spark, media_path):
    # nested-struct predicate reaches the parquet scan as a pushed
    # filter so row groups whose width stats miss the range are
    # skipped without touching ANY column data
    df = spark.read.parquet(media_path).filter(F.col("media_meta.width") > 1000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "media_meta.width" in plan or "width" in plan


def test_payload_query_does_read_payload(spark, media_path):
    # control: a query that decodes must list the payload in ReadSchema
    df = spark.read.parquet(media_path).select(
        "media_id", F.length("payload").alias("nbytes"))
    rs = _read_schema_of_scan(df)
    assert "payload" in rs
    assert df.agg(F.min("nbytes"), F.max("nbytes")).collect()[0][0] == 4096
