"""Training-shard sink: deterministic sharding, manifest audit, tamper
detection (fingerprint_spark/sinks.py)."""

import glob
import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from fingerprint_spark.sinks import MANIFEST_NAME, write_training_shards
from helpers import verify_shards


def _df(spark, n=200):
    return spark.createDataFrame(
        [Row(url=f"https://h{i % 7}.com/p{i}", text=f"body {i}")
         for i in range(n)]
    )


def test_shards_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = write_training_shards(_df(spark), out, "url", n_shards=8)
    assert manifest["total_rows"] == 200
    assert len(manifest["shards"]) == 8  # 200 keys over 8 hash buckets
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.select("url").distinct().count() == 200
    v = verify_shards(spark, out)
    assert v["ok"], v
    with open(os.path.join(out, MANIFEST_NAME)) as f:
        assert json.load(f) == manifest


def test_shard_assignment_is_partitioning_invariant(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    write_training_shards(_df(spark).repartition(1), a, "url", 4)
    write_training_shards(_df(spark).repartition(32, "text"), b, "url", 4)
    fa = {r["shard"]: sorted(x["url"] for x in
                             spark.read.parquet(a).filter(F.col("shard") == r["shard"]).collect())
          for r in spark.read.parquet(a).select("shard").distinct().collect()}
    fb = {r["shard"]: sorted(x["url"] for x in
                             spark.read.parquet(b).filter(F.col("shard") == r["shard"]).collect())
          for r in spark.read.parquet(b).select("shard").distinct().collect()}
    assert fa == fb


def test_verify_detects_tamper(spark, tmp_path):
    out = str(tmp_path / "shards")
    write_training_shards(_df(spark, 100), out, "url", 4)
    # tamper: delete one shard's data files
    victim = sorted(glob.glob(os.path.join(out, "shard=*")))[0]
    for f in glob.glob(os.path.join(victim, "*.parquet")):
        os.remove(f)
    v = verify_shards(spark, out)
    assert not v["ok"]
    assert v["missing_shards"] or v["mismatched_shards"]


def test_verify_detects_duplicated_rows(spark, tmp_path):
    out = str(tmp_path / "shards")
    write_training_shards(_df(spark, 100), out, "url", 4)
    # duplicate a data file inside one shard dir: count changes, and the
    # xor fold of duplicated keys cancels pairwise — count catches it
    victim = sorted(glob.glob(os.path.join(out, "shard=*/*.parquet")))[0]
    import shutil

    shutil.copy(victim, victim.replace(".parquet", "_dup.parquet"))
    v = verify_shards(spark, out)
    assert not v["ok"] and v["mismatched_shards"]
