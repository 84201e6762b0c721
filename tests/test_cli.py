"""The CLI table (``scripts/run_pipeline.py``'s ``MODES``) driven
in-process through ``main(argv)``: every refusal is exit 2 and one JSON
envelope line on stderr with an E_* code, and a refusal that needs no
JVM starts no SparkSession. Plus ``--describe`` against the table and
the session's master under spark-submit."""

import importlib.util
import json
import os
import subprocess

import pytest

from fingerprint_spark.deploy import build_pyfiles_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "run_pipeline.py")
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"

_spec = importlib.util.spec_from_file_location("run_pipeline_cli", SCRIPT)
rp = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(rp)

RUN = ["--input", "{t}/corpus", "--output", "{t}/out", "--no-witness"]

# (id, argv, expected code, data the case needs or None, needs a JVM)
CASES = [
    ("run-unknown-flag", RUN + ["--bogus"], "E_USAGE", None, False),
    ("run-missing-value", RUN + ["--day"], "E_USAGE", None, False),
    ("run-buckets-0", RUN + ["--buckets", "0"], "E_USAGE", None, False),
    ("run-buckets-negative", RUN + ["--buckets", "-3"], "E_USAGE", None, False),
    ("run-bad-float", RUN + ["--langid-model", "m", "--langid-threshold", "x"],
     "E_USAGE", None, False),
    ("run-requires", RUN + ["--langid-threshold", "0.3"], "E_USAGE", None, False),
    ("run-excludes", RUN + ["--revalidate", "--langid-model", "m"], "E_USAGE", None, False),
    ("run-no-input", ["--output", "{t}/out"], "E_USAGE", None, False),
    ("run-missing-rules-dir", RUN + ["--rules-dir", "{t}/nope"], "E_BAD_INPUT", None, False),
    ("run-orphan-child", RUN + ["--rules-dir", "{rules}", "--fp", "soi-pack-alder.v1"],
     "E_ORPHAN_CHILD", None, False),
    ("run-bad-langid-model", RUN + ["--langid-model", "{t}/nope.json"],
     "E_BAD_INPUT", None, False),
    ("run-committed-buckets", RUN, "E_BAD_INPUT", "committed", False),
    ("run-bucketing-mismatch", RUN + ["--buckets", "4", "--resume"],
     "E_BAD_INPUT", "committed", False),
    ("run-revalidate-no-parsed",
     ["--input", "{t}/plain", "--output", "{t}/out", "--no-witness", "--revalidate"],
     "E_BAD_INPUT", "plain", True),
    ("curate-unknown-flag", ["curate", "c", "--output", "o", "--classifer-threshold", "0.9"],
     "E_USAGE", None, False),
    ("curate-missing-value", ["curate", "c", "--output"], "E_USAGE", None, False),
    ("curate-shards-0", ["curate", "c", "--output", "o", "--shards", "0"], "E_USAGE", None, False),
    ("curate-chunk-words-kind", ["curate", "c", "--output", "o", "--chunk-words", "x"],
     "E_USAGE", None, False),
    ("curate-no-sink", ["curate", "c"], "E_USAGE", None, False),
    ("curate-two-sinks", ["curate", "c", "--output", "o", "--snapshot-output", "s"],
     "E_USAGE", None, False),
    ("curate-shards-requires-output", ["curate", "c", "--snapshot-output", "s", "--shards", "2"],
     "E_USAGE", None, False),
    ("curate-langid-threshold-requires", ["curate", "c", "--output", "o",
                                          "--langid-threshold", "0.4"], "E_USAGE", None, False),
    ("curate-ppl-threshold-requires", ["curate", "c", "--output", "o", "--ppl-threshold", "15"],
     "E_USAGE", None, False),
    ("curate-bad-ppl-model", ["curate", "c", "--output", "o", "--ppl-model", "{t}/nope.json"],
     "E_BAD_INPUT", None, False),
    ("frontier-no-action", ["frontier", "t"], "E_USAGE", None, False),
    ("frontier-two-actions", ["frontier", "t", "--build", "a", "--merge", "b"],
     "E_USAGE", None, False),
    ("frontier-probe-requires-output", ["frontier", "t", "--probe", "p"], "E_USAGE", None, False),
    ("frontier-k-0", ["frontier", "t", "--build", "a", "--k", "0"], "E_USAGE", None, False),
    ("train-classifier-no-output", ["train-classifier", "l"], "E_USAGE", None, False),
    ("train-classifier-dim-0", ["train-classifier", "l", "--output", "m", "--dim", "0"],
     "E_USAGE", None, False),
    ("train-classifier-lr-kind", ["train-classifier", "l", "--output", "m", "--lr", "x"],
     "E_USAGE", None, False),
    ("train-lm-missing-value", ["train-lm", "c", "--output"], "E_USAGE", None, False),
    ("train-lm-order-0", ["train-lm", "c", "--output", "m", "--order", "0"],
     "E_USAGE", None, False),
    ("train-langid-ngram-0", ["train-langid", "l", "--output", "m", "--ngram", "0"],
     "E_USAGE", None, False),
    ("train-langid-unknown-flag", ["train-langid", "l", "--output", "m", "--out", "x"],
     "E_USAGE", None, False),
    ("compile-no-rule", ["compile"], "E_USAGE", None, False),
    ("compile-rule-and-schema", ["compile", "{rules}/soi-pack.v1.fp.yaml", "--schema"],
     "E_USAGE", None, False),
    ("compile-missing-file", ["compile", "{t}/nope.fp.yaml", "--check"],
     "E_BAD_INPUT", None, False),
    ("witness-bad-action", ["witness", "bogus"], "E_USAGE", None, False),
    ("witness-missing-value", ["witness", "count", "--tool"], "E_USAGE", None, False),
    ("infer-no-id", ["infer", "c"], "E_USAGE", None, False),
    ("infer-confidence-kind", ["infer", "c", "--id", "x.v1", "--min-confidence", "x"],
     "E_USAGE", None, False),
    ("infer-missing-column", ["infer", "{t}/plain", "--id", "x.v1"], "E_BAD_INPUT", "plain", True),
    ("infer-no-candidates", ["infer", "{t}/html", "--id", "x.v1", "--min-confidence", "1.5"],
     "E_BAD_INPUT", "html", True),
]


def _prepare(data, t, spark):
    """Write the input a case needs under ``t``."""
    if data == "committed":
        os.makedirs(t / "out" / "_lineage")
        rec = {"bucket": 0, "params_hash": "v1", "n_buckets": 64, "key_col": "url"}
        (t / "out" / "_lineage" / "manifest.jsonl").write_text(json.dumps(rec) + "\n")
    elif data == "plain":
        spark.createDataFrame(
            [("https://h/0", "some plain text")], "url string, text string"
        ).write.parquet(str(t / "plain"))
    elif data == "html":
        spark.createDataFrame(
            [(f"https://h/{i}", f"<html><body><h1>R</h1><p>{i}</p></body></html>")
             for i in range(4)], "url string, html string",
        ).write.parquet(str(t / "html"))


@pytest.mark.parametrize("argv,code,data,jvm", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_every_refusal_is_one_envelope(argv, code, data, jvm, tmp_path, request,
                                       monkeypatch, capsys):
    if jvm:
        _prepare(data, tmp_path, request.getfixturevalue("spark"))
    else:
        _prepare(data, tmp_path, None)

        def no_session():
            raise AssertionError("a JVM-free refusal started a SparkSession")

        monkeypatch.setattr(rp, "_session", no_session)
    capsys.readouterr()
    args = [a.format(t=tmp_path, rules=os.path.join(REPO, "rules")) for a in argv]
    assert rp.main(args) == 2
    out, err = capsys.readouterr()
    lines = err.strip().splitlines()
    assert len(lines) == 1, err
    refusal = json.loads(lines[0])["refusal"]
    assert refusal["code"] == code, refusal
    assert refusal["code"] in rp.REFUSALS
    assert refusal["mode"] == (args[0] if args[0] in rp.MODES else "run")
    assert refusal["message"]


def test_describe_lists_every_option_of_the_table_once(capsys):
    assert rp.main(["--describe"]) == 0
    desc = json.loads(capsys.readouterr().out)
    flags = {"run": [o["flag"] for o in desc["options"]]}
    flags |= {m: [o["flag"] for o in s["options"]] for m, s in desc["subcommands"].items()}
    assert flags["run"][-4:] == ["--describe", "--schema", "--list", "--version"]
    del flags["run"][-4:]
    assert set(flags) == set(rp.MODES)
    for name, mode in rp.MODES.items():
        assert flags[name] == [o.name for o in mode.args if o.name.startswith("--")], name
        assert len(set(flags[name])) == len(flags[name]), name
    assert {m: len(f) for m, f in flags.items()} == {
        "run": 14, "curate": 18, "train-langid": 8, "frontier": 7,
        "train-classifier": 7, "witness": 7, "train-lm": 5, "infer": 3, "compile": 2,
    }
    assert {m: s["jvm"] for m, s in desc["subcommands"].items()} == {
        m: rp.MODES[m].jvm for m in desc["subcommands"]}


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_subcommand_session_takes_the_spark_submit_master(spark, tmp_path):
    """No mode sets a master of its own: `train-lm` under
    `spark-submit --master local[2]` runs on local[2] (the Spark
    properties its event log records)."""
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame([("the cat sat on the mat",)], "text string").write.parquet(corpus)
    events = tmp_path / "events"
    events.mkdir()
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.eventLog.enabled=true",
         "--conf", "spark.eventLog.compress=false",
         "--conf", "spark.eventLog.rolling.enabled=false",
         "--conf", f"spark.eventLog.dir={events}",
         "--py-files", build_pyfiles_zip(str(tmp_path / "pyfiles.zip")),
         SCRIPT, "train-lm", corpus, "--output", str(tmp_path / "lm.json")],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    (log,) = list(events.iterdir())
    with open(log) as f:
        env = next(e for e in map(json.loads, f)
                   if e["Event"] == "SparkListenerEnvironmentUpdate")
    assert dict(env["Spark Properties"])["spark.master"] == "local[2]"
