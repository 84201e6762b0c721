"""Checkpoint/resume + metrics tests (north_rule: killed job resumes
without recomputation; counter metrics per run)."""

import json

import pytest
from pyspark.sql import functions as F

from fingerprint_spark.checkpoint import CheckpointedRun
from fingerprint_spark.corpus import generate_corpus
from fingerprint_spark.metrics import observe_pipeline
from fingerprint_spark.pipeline import quality_filter

N = 300


@pytest.fixture()
def corpus(spark):
    return generate_corpus(spark, N, partitions=4)


def _select_out(df):
    return quality_filter(df).select(
        "url", "keep", "drop_reason", "scrubbed_text", "ppl",
        F.col("fingerprint.matched").alias("matched"),
        F.col("fingerprint.fingerprint_id").alias("fingerprint_id"),
        "scrub", "fingerprint",
    )


def test_kill_resume_no_recompute(spark, corpus, tmp_path):
    run = CheckpointedRun(str(tmp_path / "out"), n_buckets=6)

    # first invocation "dies" after 2 buckets
    s1 = run.run(corpus, _select_out, max_buckets=2)
    assert s1["processed_buckets"] == [0, 1]
    assert not s1["complete"]

    # resume: buckets 0,1 must be SKIPPED (no recomputation)
    s2 = run.run(corpus, _select_out)
    assert s2["skipped_buckets"] == [0, 1]
    assert s2["processed_buckets"] == [2, 3, 4, 5]
    assert s2["complete"]

    # a third run does nothing at all
    s3 = run.run(corpus, _select_out)
    assert s3["processed_buckets"] == []

    # output complete + byte-identical to a single-shot run
    out = run.read_output(spark).select("url", "keep", "scrubbed_text")
    direct = _select_out(corpus).select("url", "keep", "scrubbed_text")
    assert out.count() == N
    assert out.exceptAll(direct).count() == 0
    assert direct.exceptAll(out).count() == 0


def test_lineage_manifest_contents(spark, corpus, tmp_path):
    run = CheckpointedRun(str(tmp_path / "out"), n_buckets=3)
    run.run(corpus, _select_out)
    lines = [
        json.loads(ln)
        for ln in open(run.manifest_path).read().splitlines()
        if ln.strip()
    ]
    assert {r["bucket"] for r in lines} == {0, 1, 2}
    total = sum(r["metrics"]["docs_scanned"] for r in lines)
    assert total == N
    for r in lines:
        assert "template_hits" in r["metrics"]
        assert r["params_hash"] == "v1"
        assert any(k.startswith("ppl_") for k in r["metrics"])


def test_params_change_invalidates_checkpoint(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    CheckpointedRun(out, n_buckets=3, params_hash="v1").run(
        corpus, _select_out, max_buckets=3
    )
    # new template version => new params hash => full reprocess
    run2 = CheckpointedRun(out, n_buckets=3, params_hash="v2")
    s = run2.run(corpus, _select_out)
    assert s["processed_buckets"] == [0, 1, 2]


def test_bucketing_change_refuses_resume(spark, corpus, tmp_path):
    """Resuming under a different bucketing scheme must refuse, not
    silently skip documents that now hash into a 'completed' bucket id."""
    out = str(tmp_path / "out")
    CheckpointedRun(out, n_buckets=4).run(corpus, _select_out, max_buckets=2)
    with pytest.raises(ValueError, match="refusing to resume"):
        CheckpointedRun(out, n_buckets=8).run(corpus, _select_out)
    with pytest.raises(ValueError, match="refusing to resume"):
        CheckpointedRun(out, n_buckets=4, key_col="text").completed_buckets()
    # same scheme still resumes fine
    s = CheckpointedRun(out, n_buckets=4).run(corpus, _select_out)
    assert s["skipped_buckets"] == [0, 1]
    assert s["complete"]


def test_arbitrary_schema_pipeline_checkpoints(spark, corpus, tmp_path):
    """run() accepts any pipeline_fn; quality-filter metrics must only
    attach when the output schema actually carries those columns."""
    run = CheckpointedRun(str(tmp_path / "out"), n_buckets=2)
    s = run.run(corpus, lambda df: df.select("url", F.length("text").alias("n")))
    assert s["complete"]
    assert run.read_output(spark).count() == N
    for rec in s["records"]:
        assert rec["metrics"] == {}
        assert rec["n_buckets"] == 2 and rec["key_col"] == "url"


def test_read_output_reads_only_committed_buckets(spark, corpus, tmp_path):
    """A bucket directory the manifest never committed (a write killed
    before its manifest append) is not read, and the committed buckets
    come back without a ``bucket`` partition column."""
    run = CheckpointedRun(str(tmp_path / "out"), n_buckets=3)
    narrow = lambda df: df.select("url", F.length("text").alias("n"))  # noqa: E731
    s = run.run(corpus, narrow, max_buckets=2)
    committed = sum(
        spark.read.parquet(run.bucket_path(b)).count()
        for b in s["processed_buckets"]
    )
    narrow(corpus).write.parquet(run.bucket_path(2))  # stray, uncommitted
    out = run.read_output(spark)
    assert out.columns == ["url", "n"]
    assert out.count() == committed < N


def test_observe_metrics_single_pass(spark, corpus):
    out, obs = observe_pipeline(quality_filter(corpus))
    out.write.mode("overwrite").format("noop").save()
    m = obs.get
    assert m["docs_scanned"] == N
    assert 0 < m["docs_kept"] < N
    assert m["template_hits"] > 0          # spam pages matched templates
    assert m["scrub_email"] > 0            # pii pages scrubbed
    hist_total = sum(v for k, v in m.items() if k.startswith("ppl_"))
    assert hist_total == N
