"""struct-check, image codec, and witness ledger tests."""

import importlib.util
import json
import os

import pytest

from fingerprint_spark.operators.structcheck import StructRule, struct_check
from fingerprint_spark.witness import append_witness


def test_struct_check_outcomes(spark):
    manifest = spark.createDataFrame(
        [
            ("/data/deal_a/report.pdf",),
            ("/data/deal_a/summary.csv",),
            ("/data/deal_a/notes.txt",),       # unexpected
            ("/data/deal_b/report.pdf",),       # partial: no csv
            ("/data/deal_c/other.bin",),        # empty: nothing required
            ("/other/x/report.pdf",),           # not selected by group_by
        ],
        ["path"],
    )
    rules = [
        StructRule(
            name="deal_complete",
            group_by="/data/deal_*",
            required=("*.pdf", "*.csv"),
            allowed=(),
        )
    ]
    out = {r["dir"]: r for r in struct_check(manifest, rules).collect()}
    assert set(out) == {"/data/deal_a", "/data/deal_b", "/data/deal_c"}
    assert out["/data/deal_a"]["outcome"] == "complete"
    assert out["/data/deal_a"]["unexpected"] == ["notes.txt"]
    assert out["/data/deal_b"]["outcome"] == "partial"
    assert out["/data/deal_b"]["missing"] == ["*.csv"]
    assert out["/data/deal_c"]["outcome"] == "empty"


def test_real_codec_decodes_png_and_rejects_unknown():
    """decode_image_bytes is REAL for png/bmp (stdlib codecs) and raises
    ValueError (a row-level decode failure upstream) for formats that
    genuinely need codec libraries."""
    import numpy as np

    from fingerprint_spark.operators.media_codecs import (
        decode_image_bytes,
        encode_png,
    )

    f = decode_image_bytes(encode_png(np.full((4, 6, 3), 90, dtype=np.uint8)))
    assert (f["width"], f["height"], f["n_channels"]) == (6, 4, 3)
    assert abs(f["pixels"].mean() / 255 - 90 / 255) < 1e-9
    with pytest.raises(ValueError):
        decode_image_bytes(b"bytes")


def test_witness_ledger(tmp_path, capsys):
    """append_witness receipts, read back through the witness CLI's
    query|last|count filters (scripts/run_pipeline.py)."""
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_witness",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts",
                     "run_pipeline.py"),
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    path = str(tmp_path / "witness.jsonl")
    append_witness("run", {"sf": "0.01"}, {"rules": ["a.v1"]}, "OK", path=path)
    append_witness("run", {"sf": "0.1"}, {"rules": ["a.v1"]}, "PARTIAL", path=path)
    append_witness("infer", {"dir": "x"}, {}, "INFERRED", path=path)

    def witness(*args):
        assert cli.main(["witness", *args, "--path", path]) == 0
        return capsys.readouterr().out.strip()

    assert witness("count") == "3"
    assert witness("count", "--tool", "run") == "2"
    assert witness("count", "--outcome", "PARTIAL") == "1"
    last = json.loads(witness("last", "--tool", "infer"))
    assert last["outcome"] == "INFERRED"
    q = [json.loads(x) for x in witness(
        "query", "--tool", "run", "--outcome", "OK").splitlines()]
    assert len(q) == 1 and q[0]["inputs"]["sf"] == "0.01"


# ---------------------------------------------------------------------------
# REAL stdlib image codecs (round 2): PNG/BMP decode
# ---------------------------------------------------------------------------


def test_png_roundtrip_and_filters():
    """encode_png -> decode_png roundtrips exact pixels for gray/GA/RGB/
    RGBA; the unfilter path handles all five PNG filter types."""
    import numpy as np

    from fingerprint_spark.operators.media_codecs import decode_png, encode_png

    rng = np.random.RandomState(7)
    for nch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(13, 9, nch), dtype=np.uint8)
        d = decode_png(encode_png(px))
        assert (d["width"], d["height"], d["n_channels"]) == (9, 13, nch)
        assert (d["pixels"] == px).all()
    with pytest.raises(ValueError):
        decode_png(b"not a png")
