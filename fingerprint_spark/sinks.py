"""Training-shard sink: deterministic hash-sharded output + manifest.

Training dataloaders consume a corpus as N similar-sized shards, and an
auditable pipeline must be able to say "these exact documents, in these
exact shards" long after the job ran. This sink:

- assigns every row to shard ``pmod(xxhash64(key), n_shards)`` —
  deterministic across runs, cluster sizes, and input partitionings
  (hash sharding also pre-shuffles the data, which is what training
  wants; a global sort-based split would cost a range shuffle AND make
  shard membership depend on sampled range bounds);
- writes one directory per shard (``shard=K/``) with rows sorted by key
  within the shard, so shard files are byte-stable for identical input;
- aggregates a per-shard manifest IN THE SAME JOB (row count + an
  order-insensitive xor of key hashes — driver-bounded at n_shards
  rows) and writes it as MANIFEST.json next to the data;
- the manifest's folds are recomputable from the written parquet
  (``_fold_shards``): a deleted or duplicated row flips the xor, the
  lineage story of checkpoint.py applied to the output side.

Reference analog: the witness/lineage receipts (witness.py); beyond-
reference per the round brief's training-pipeline requirement.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# leading underscore: Spark data-source listing skips _-prefixed files,
# so the manifest can live inside the dataset directory
MANIFEST_NAME = "_MANIFEST.json"


def _manifest_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for the manifest via the Hadoop FS API — the
    manifest must land on the SAME filesystem as the shard data
    (hdfs://, s3a://, file://), not the driver's local disk (ADVICE
    r3: local open() mis-placed it for any non-local output path)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, MANIFEST_NAME)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _manifest_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _shard_col(key, n_shards: int):
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(n_shards))


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 16,
) -> dict:
    """Write df as n_shards hash-assigned sorted shards + manifest.
    Returns the manifest dict."""
    tagged = df.withColumn("shard", _shard_col(F.col(key_col), n_shards))
    (
        tagged.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # manifest from the WRITTEN data (not the input frame): what is
    # audited is what landed on disk
    spark = df.sparkSession
    manifest = _fold_shards(spark, path, key_col)
    manifest["n_shards"] = n_shards
    manifest["key_col"] = key_col
    _fs_write_text(spark, path, json.dumps(manifest, sort_keys=True))
    return manifest


def _fold_shards(spark: SparkSession, path: str, key_col: str) -> dict:
    from pyspark.errors import AnalysisException

    try:
        src = spark.read.parquet(path)
    except AnalysisException:
        # an empty dataset writes no parquet files at all — an audited
        # empty corpus is a valid (zero-shard) output, not an error
        return {"shards": {}, "total_rows": 0}
    rows = (
        src
        .groupBy("shard")
        .agg(
            F.count("*").alias("rows"),
            # xor-fold: order-insensitive, duplicate- and drop-
            # sensitive. bit_xor aggregates with O(1) state — a
            # collect_list-then-fold would buffer every row hash of a
            # shard in one aggregation buffer (OOM at real shard sizes)
            F.expr(
                f"bit_xor(xxhash64(cast({key_col} as string)))"
            ).alias("key_fold"),
        )
        .collect()  # driver-bounded: one row per shard
    )
    return {
        "shards": {
            str(r["shard"]): {"rows": r["rows"], "key_fold": r["key_fold"]}
            for r in rows
        },
        "total_rows": int(sum(r["rows"] for r in rows)),
    }
