"""Witness ledger — append-only run receipts + query surface.

Reference: src/witness/record.rs:7-71, ledger.rs:7-69, query.rs:13-119 —
every run appends a JSONL receipt (record id, binary hash, inputs,
params, outcome, exit code, output hash, RFC3339 ts) to
``~/.epistemic/witness.jsonl`` (env EPISTEMIC_WITNESS); ``witness query/
last/count`` filter by tool/outcome/since/until/input-hash.

Spark mapping: the ledger is a JSONL file (or table); appends happen at
the driver after each run; queries are ``spark.read.json`` + filters —
the same lineage surface CheckpointedRun uses per-bucket, generalized to
whole runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

DEFAULT_LEDGER = os.path.expanduser("~/.fingerprint_spark/witness.jsonl")
ENV_VAR = "FINGERPRINT_SPARK_WITNESS"


def ledger_path() -> str:
    return os.environ.get(ENV_VAR, DEFAULT_LEDGER)


def append_witness(
    tool: str,
    inputs: dict,
    params: dict,
    outcome: str,
    exit_code: int = 0,
    path: str | None = None,
) -> dict:
    """Append one receipt; returns the record (record.rs:7-71)."""
    path = path or ledger_path()
    canonical = json.dumps(
        {"tool": tool, "inputs": inputs, "params": params}, sort_keys=True
    )
    rec = {
        "record_id": str(uuid.uuid5(uuid.NAMESPACE_URL, canonical + str(time.time_ns()))),
        "tool": tool,
        "inputs": inputs,
        "input_hash": "md5:" + hashlib.md5(canonical.encode()).hexdigest(),
        "params": params,
        "outcome": outcome,
        "exit_code": exit_code,
        "output_hash": None,  # record.rs field; no output is hashed yet
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())
    return rec
