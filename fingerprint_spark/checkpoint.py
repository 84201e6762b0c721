"""Per-partition checkpoint + lineage: a killed job resumes without
recomputation.

Generalizes the reference's witness ledger (src/witness/ledger.rs:7-69 —
append-only JSONL receipts with input/param/outcome hashes) to the
partitioned-batch world, the way an Iceberg snapshot + partition-done
marker would work on a real lakehouse:

- the input is bucketed deterministically by ``pmod(xxhash64(url), B)``
  (or any existing partition column — e.g. warc_ts day on the real
  corpus);
- each bucket is processed and written independently
  (``output/bucket=<i>/``), then a lineage record is appended to
  ``_lineage/manifest.jsonl``: bucket id, row counts, counter metrics,
  params hash, timestamp;
- resume = read manifest -> skip completed buckets. Nothing is
  recomputed; the anti-join is against the (tiny) manifest, not data.

On a real cluster each bucket commit is one atomic parquet write + one
manifest append, so at most ONE bucket of work is lost on a kill.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metrics import observe_pipeline

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, n_buckets: int, key_col: str = "url") -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


@dataclass
class CheckpointedRun:
    output_dir: str
    n_buckets: int = 8
    key_col: str = "url"
    params_hash: str = "v1"

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.output_dir, "_lineage", "manifest.jsonl")

    def completed_buckets(self) -> dict[int, dict]:
        """Read the lineage manifest; last record per bucket wins.

        A committed bucket id is only meaningful under the bucketing
        scheme that produced it — resuming with a different n_buckets or
        key_col would silently skip documents that now hash into a
        "completed" bucket id. Records carry both and a mismatch refuses
        to resume instead of losing data."""
        done: dict[int, dict] = {}
        if not os.path.exists(self.manifest_path):
            return done
        with open(self.manifest_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                if rec.get("params_hash") != self.params_hash:
                    continue
                rec_nb = rec.get("n_buckets")
                rec_key = rec.get("key_col")
                if (rec_nb is not None and rec_nb != self.n_buckets) or (
                    rec_key is not None and rec_key != self.key_col
                ):
                    raise ValueError(
                        "refusing to resume: manifest records bucketing "
                        f"(n_buckets={rec_nb}, key_col={rec_key!r}) but this "
                        f"run uses (n_buckets={self.n_buckets}, "
                        f"key_col={self.key_col!r}); completed bucket ids are "
                        "not comparable across bucketing schemes — rerun "
                        "with the original configuration or a fresh "
                        "output_dir/params_hash"
                    )
                done[rec["bucket"]] = rec
        return done

    def _append_manifest(self, rec: dict) -> None:
        os.makedirs(os.path.dirname(self.manifest_path), exist_ok=True)
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def run(
        self,
        df: DataFrame,
        pipeline_fn: Callable[[DataFrame], DataFrame],
        max_buckets: int | None = None,
        observe: bool = True,
    ) -> dict:
        """Process all not-yet-committed buckets; returns a summary.

        ``max_buckets`` limits how many buckets this invocation commits —
        the test hook for kill/resume scenarios (a real kill between
        bucket commits leaves the same state).
        """
        bucketed = with_bucket(df, self.n_buckets, self.key_col)
        done = self.completed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            todo = todo[:max_buckets]

        processed = []
        for b in todo:
            part = bucketed.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
            out = pipeline_fn(part)
            obs = None
            # quality-filter counter metrics reference keep/fingerprint/
            # scrub/ppl — only attach them when the pipeline_fn actually
            # produced that schema (run() accepts arbitrary callables).
            if observe and {"keep", "fingerprint", "scrub", "ppl"} <= set(
                out.columns
            ):
                out, obs = observe_pipeline(out, name=f"bucket_{b}_{time.time_ns()}")
            path = self.bucket_path(b)
            out.write.mode("overwrite").parquet(path)
            metrics = {k: v for k, v in (obs.get if obs else {}).items()}
            rec = {
                "bucket": b,
                "params_hash": self.params_hash,
                "n_buckets": self.n_buckets,
                "key_col": self.key_col,
                "output": path,
                "metrics": metrics,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._append_manifest(rec)
            processed.append(rec)

        return {
            "processed_buckets": [r["bucket"] for r in processed],
            "skipped_buckets": sorted(done),
            "records": processed,
            "complete": len(self.completed_buckets()) == self.n_buckets,
        }

    def bucket_path(self, bucket: int) -> str:
        return os.path.join(self.output_dir, f"bucket={bucket}")

    def read_output(self, spark: SparkSession) -> DataFrame:
        """The committed buckets' rows: the bucket directories the
        manifest lists, never a glob — a ``bucket=<i>`` directory the
        manifest did not commit (a write killed before its manifest
        append) is not read. Each directory is read as its own root, so
        there is no ``bucket`` partition column."""
        done = self.completed_buckets()
        if not done:
            raise FileNotFoundError(
                f"no committed bucket in {self.manifest_path}"
            )
        return spark.read.parquet(*[self.bucket_path(b) for b in sorted(done)])
