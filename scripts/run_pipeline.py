#!/usr/bin/env python3
"""spark-submit entry point — the north_rule deployment shape.

    spark-submit --py-files fingerprint_spark.zip \\
        scripts/run_pipeline.py \\
        --input  /data/corpus          (day-partitioned parquet/Iceberg) \\
        --output /data/filtered \\
        --rules-dir rules/             (*.fp.yaml, optional) \\
        --day 2024-01-01               (partition pruning, optional) \\
        --buckets 256                  (checkpoint granularity) \\
        --resume                       (skip committed buckets)

Writes keep/drop verdicts + scrubbed text per url, checkpointed per
url-hash bucket with a lineage manifest; a killed job resumes with
``--resume`` and recomputes nothing. Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# output-record schema advertised by --schema (JSON-Schema shape, the
# analog of the reference's record schema surface)
OUTPUT_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "title": "fingerprint_spark.output_record",
    "type": "object",
    "properties": {
        "url": {"type": "string"},
        "warc_ts": {"type": "string", "format": "date-time"},
        "keep": {"type": "boolean"},
        "drop_reason": {"type": ["string", "null"]},
        "scrubbed_text": {"type": ["string", "null"]},
        "lang_detected": {"type": "string"},
        "lang_score": {"type": "number"},
        "ppl": {"type": ["number", "null"]},
        "simhash": {"type": "integer"},
        "scrub": {"type": "object"},
        "fingerprint": {
            "type": "object",
            "properties": {
                "fingerprint_id": {"type": "string"},
                "matched": {"type": "boolean"},
                "failed_assertion": {"type": ["string", "null"]},
            },
        },
        "child_routing": {"type": ["object", "null"]},
        # present when the rules declare extract: the winner's anchors
        # (name -> JSON), its content hash and the selected child's
        "extracted": {"type": ["object", "null"]},
        "content_hash": {"type": ["string", "null"]},
        "child_content_hash": {"type": ["string", "null"]},
        "warnings": {"type": "array", "items": {"type": "string"}},
        "tool_versions": {"type": "object"},
    },
    "required": ["url", "keep"],
}

REFUSALS = [
    "E_PARSE", "E_INVALID_YAML", "E_UNKNOWN_ASSERTION", "E_MISSING_FIELD",
    "E_DUPLICATE_FP_ID", "E_UNKNOWN_FP", "E_ORPHAN_CHILD", "E_UNTRUSTED_FP",
]

OPTIONS = [
    {"flag": "--input", "help": "day-partitioned parquet corpus"},
    {"flag": "--output", "help": "checkpointed output directory"},
    {"flag": "--rules-dir", "help": "*.fp.yaml rule directory"},
    {"flag": "--day", "help": "partition-pruned single day"},
    {"flag": "--buckets", "help": "checkpoint bucket count"},
    {"flag": "--resume", "help": "skip committed buckets"},
    {"flag": "--params-version", "help": "rule/params version tag"},
    {"flag": "--diagnose", "help": "full-eval diagnostics for unmatched docs"},
    {"flag": "--fp", "help": "select fingerprint rules by id (repeatable)"},
    {"flag": "--no-witness", "help": "skip the witness ledger append"},
    {"flag": "--keep-parsed", "help": "persist parsed structs for --revalidate"},
    {"flag": "--revalidate", "help": "incremental re-validation over stored parsed structs"},
    {"flag": "--langid-model", "help": "trained langid model file (train-langid output)"},
    {"flag": "--langid-threshold", "help": "trained-langid 'und' gate probability (default 0.5)"},
    {"flag": "--describe", "help": "print operator descriptor JSON and exit"},
    {"flag": "--schema", "help": "print output record JSON-Schema and exit"},
    {"flag": "--list", "help": "print registered rules and exit"},
    {"flag": "--version", "help": "print version banner and exit"},
]


def _display_surfaces(argv: list[str]) -> int | None:
    """--describe/--schema/--list/--version short-circuit BEFORE argument
    validation (reference: tests/cli_smoke_surfaces.rs:417 — display
    flags must exit 0 even alongside invalid args). No SparkSession."""
    from fingerprint_spark import __version__

    if "--describe" in argv:
        print(json.dumps({
            "name": "fingerprint_spark",
            "version": __version__,
            "schema_version": "spark-operator.v0",
            "capabilities": {
                "formats": ["html", "text"],
                "modes": ["run", "resume", "revalidate", "diagnose", "compile", "infer", "witness", "curate", "train-classifier", "train-lm", "train-langid", "frontier"],
            },
            "pipeline": [
                "parse", "template_match", "extract", "langid", "perplexity",
                "heuristics", "scrub", "verdict", "checkpoint",
            ],
            "exit_codes": {"0": "OK", "1": "PARTIAL", "2": "refusal/usage"},
            "refusals": REFUSALS,
            "options": OPTIONS,
        }, sort_keys=True))
        return 0
    if "--schema" in argv:
        print(json.dumps(OUTPUT_SCHEMA, sort_keys=True))
        return 0
    if "--list" in argv:
        rules_dir = None
        if "--rules-dir" in argv:
            i = argv.index("--rules-dir")
            if i + 1 < len(argv):
                rules_dir = argv[i + 1]
        reg = _load_registry(rules_dir)
        if reg is None:
            return 2
        for r in reg.list():
            parent = r.parent or "-"
            print(f"{r.fingerprint_id}\t{r.format}\t{parent}\t{r.source}")
        return 0
    if "--version" in argv:
        print(f"fingerprint_spark {__version__}")
        return 0
    return None


def _load_registry(rules_dir: str | None):
    """The builtin rules plus ``rules_dir``'s *.fp.yaml; None after one
    ``rule load error: E_*`` line when a rule fails to parse or
    validate (the refusal contract of --describe: exit 2, no
    traceback)."""
    from fingerprint_spark.dsl.parser import ParseError
    from fingerprint_spark.dsl.registry import Registry, RegistryError, builtin_rules
    from fingerprint_spark.dsl.validate import ValidationError

    try:
        return Registry.load_dir(rules_dir) if rules_dir else Registry(builtin_rules())
    except (ParseError, ValidationError, RegistryError) as e:
        print(f"rule load error: {e}", file=sys.stderr)
        return None


def _rule_definition_schema() -> dict:
    """JSON Schema (draft 2020-12) of the .fp.yaml rule definition —
    generated from the SAME parameter table the validator enforces
    (dsl.model's ASSERTION_SPECS / EXTRACT_SPECS: a typed property per
    parameter, its default, its bounds, no unknown keys), so a rule the
    schema refuses for its parameters is one validation refuses
    (reference: `compile --schema`, cli_smoke_surfaces.rs:160-185 expects
    $defs.assertion_<type> entries and a format enum). The Java regex
    checks need a JVM and are validation's alone."""
    from fingerprint_spark.dsl.model import (
        ASSERTION_SPECS, CELL_TYPES, EXTRACT_SPECS, FORMATS,
    )

    string = {"type": "string"}
    kinds = {"string": string, "regex": string, "span_regex": string,
             "int": {"type": "integer"},
             "regex_list": {"type": "array", "items": string, "minItems": 1},
             "cell_type_list": {"type": "array", "minItems": 1,
                                "items": {"enum": list(CELL_TYPES)}}}
    defs = {}

    def param(p) -> dict:
        bounds = {"minimum": p.lo, "maximum": p.hi}
        out = {**kinds[p.kind], **{k: b for k, b in bounds.items() if math.isfinite(b)}}
        if not p.required:  # null counts as absent
            out.update(type=[out["type"], "null"], default=p.default)
        return out

    def entries(prefix: str, specs: dict) -> dict:
        """An array of ``{<type>: params}`` maps, each with an optional name."""
        for t, spec in specs.items():
            required = [k for k, p in spec.params.items() if p.required]
            defs[f"{prefix}_{t}"] = {
                "type": "object" if required else ["object", "null"],
                "properties": {k: param(p) for k, p in spec.params.items()},
                "required": required, "additionalProperties": False,
            }
        return {"type": "array", "items": {"oneOf": [{
            "type": "object", "required": [t], "additionalProperties": False,
            "properties": {"name": string, t: {"$ref": f"#/$defs/{prefix}_{t}"}},
        } for t in sorted(specs)]}}

    return {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "title": "fingerprint_spark.rule_definition",
        "type": "object",
        "properties": {
            "fingerprint_id": {"type": "string"},
            "format": {"enum": sorted(FORMATS)},
            "parent": {"type": "string"},
            "valid_from": {"type": "string"},
            "assertions": entries("assertion", ASSERTION_SPECS),
            "extract": entries("extract", EXTRACT_SPECS),
            "content_hash": {
                "type": "object",
                "properties": {
                    "algo": {"enum": ["md5", "sha256", "xxhash64", "blake3"]},
                    "over": {"type": "array", "items": {"type": "string"}},
                },
            },
        },
        "required": ["fingerprint_id", "format", "assertions"],
        "$defs": defs,
    }


def _compile_mode(argv: list[str]) -> int:
    """`compile <rule.fp.yaml> [--check]` / `compile --schema` — the
    reference's compile surface (src/compile/, cli_smoke_surfaces.rs).
    --check parses + validates only; full compile also builds the
    Catalyst expression tree (the engine's 'generated code') and prints
    a descriptor with the rule's source_hash and the compiled match
    expression."""
    paths, opts = _parse_subcommand_argv(argv, (), flags=("schema", "check"))
    if "schema" in opts:
        print(json.dumps(_rule_definition_schema(), sort_keys=True))
        return 0
    if not paths:
        print("usage: compile <rule.fp.yaml> [--check] | compile --schema",
              file=sys.stderr)
        return 2
    from fingerprint_spark.dsl.parser import ParseError, parse_yaml
    from fingerprint_spark.dsl.validate import ValidationError, validate_definition

    try:
        with open(paths[0]) as f:
            d = parse_yaml(f.read(), source=paths[0])
        validate_definition(d)
    except (OSError, ParseError, ValidationError) as e:
        print(f"compile error: {e}", file=sys.stderr)
        return 2
    if "check" in opts:
        print(f"OK {d.fingerprint_id}")
        return 0
    # full compile materializes the Catalyst expression tree — Column
    # construction needs a JVM, so bring up a minimal local[1] session
    # (--check above stays session-free for fast CI validation)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: N812

    from fingerprint_spark.dsl.compiler import compile_rule

    SparkSession.builder.master("local[1]").config(
        "spark.ui.enabled", "false"
    ).getOrCreate()

    col = compile_rule(d, {"url": F.col("url"), "parsed": F.col("parsed")})
    print(json.dumps({
        "generated": "CompiledFingerprint",   # codegen.rs GeneratedFingerprint analog
        "fingerprint_id": d.fingerprint_id,
        "format": d.format,
        "source_hash": d.source_hash,
        "assertions": [a.name for a in d.assertions],
        "extracts": [e.name for e in (d.extract or ())],
        "catalyst_expression": str(col),
    }, sort_keys=True))
    return 0


def _witness_mode(argv: list[str]) -> int:
    """`witness query|last|count [--tool --outcome --since --until
    --input-hash]` — the reference's witness CLI (src/cli/args.rs witness
    subcommands, src/witness/query.rs:13-119). The ledger is a small
    driver-side JSONL; no SparkSession needed for the CLI surface."""
    from fingerprint_spark.witness import ledger_path

    # --json is accepted for parity: the output is always JSON lines
    paths, opts = _parse_subcommand_argv(
        argv, ("tool", "outcome", "since", "until", "input_hash", "path"),
        flags=("json",),
    )
    if len(paths) != 1 or paths[0] not in ("query", "last", "count"):
        print("usage: witness query|last|count [--tool T] [--outcome O] "
              "[--since TS] [--until TS] [--input-hash H] [--path LEDGER]",
              file=sys.stderr)
        return 2
    action = paths[0]
    path = opts.get("path") or ledger_path()
    records = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    records.append(json.loads(line))

    def keep(r: dict) -> bool:
        if "tool" in opts and r.get("tool") != opts["tool"]:
            return False
        if "outcome" in opts and r.get("outcome") != opts["outcome"]:
            return False
        if "since" in opts and not (r.get("ts", "") >= opts["since"]):
            return False
        if "until" in opts and not (r.get("ts", "") <= opts["until"]):
            return False
        if "input_hash" in opts and r.get("input_hash") != opts["input_hash"]:
            return False
        return True

    matched = sorted((r for r in records if keep(r)), key=lambda r: r.get("ts", ""))
    if action == "count":
        print(len(matched))
    elif action == "last":
        if matched:
            print(json.dumps(matched[-1], sort_keys=True))
    else:
        for r in matched:
            print(json.dumps(r, sort_keys=True))
    return 0


def _parse_subcommand_argv(
    argv: list[str], options: tuple[str, ...], flags: tuple[str, ...] = ()
) -> tuple[list[str], dict[str, str]]:
    """One pass over a subcommand's arguments: a --flag named in
    ``flags`` is boolean, a --opt named in ``options`` consumes the next
    token, and everything else is positional (so `mode --id X path` and
    `mode path --id X` both work). Names use underscores for dashes.
    Any other --opt, or an option missing its value, is refused: one
    line, then no positionals, so the mode's own usage check exits 2
    before a SparkSession starts. Shared by every subcommand."""
    paths: list[str] = []
    opts: dict[str, str] = {}
    it = iter(argv[1:])
    for a in it:
        if not a.startswith("--"):
            paths.append(a)
            continue
        key = a[2:].replace("-", "_")
        if key in flags:
            opts[key] = "1"
            continue
        value = next(it, None) if key in options else None
        if value is None:
            problem = "missing value for" if key in options else "unknown"
            print(f"{argv[0]}: {problem} option {a}", file=sys.stderr)
            return [], {}
        opts[key] = value
    return paths, opts


def _subcommand_spark():
    """The shared subcommand session preamble (master override env,
    quiet logs, executor code via addPyFile)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master(
        os.environ.get("SPARK_GRAFT_MASTER", "local[8]")
    ).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from fingerprint_spark.deploy import ensure_pyfiles

    ensure_pyfiles(spark)
    return spark


def _infer_mode(argv: list[str]) -> int:
    """`infer <corpus.parquet> --id ID [--min-confidence F]
    [--content-col html]` — mine candidate assertions from a corpus
    and print a deterministic .fp.yaml (reference infer subcommand,
    tests/infer_subcommand.rs; input is a parquet corpus rather than a
    file directory — the Spark-native shape)."""
    paths, opts = _parse_subcommand_argv(
        argv, ("id", "min_confidence", "content_col")
    )
    if not paths:
        print("usage: infer <corpus.parquet> --id ID "
              "[--min-confidence F] [--content-col html]", file=sys.stderr)
        return 2
    if "id" not in opts:
        print("infer: --id required", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F  # noqa: N812

    from fingerprint_spark.operators.infer import infer_rule
    from fingerprint_spark.parse import parse_html_col

    spark = _subcommand_spark()
    content_col = opts.get("content_col", "html")
    df = spark.read.parquet(paths[0])
    parsed = df.select(
        F.col("url"),
        parse_html_col(F.col(content_col).cast("string")).alias("parsed"),
    )
    try:
        _d, text = infer_rule(
            parsed,
            opts["id"],
            float(opts.get("min_confidence", "0.8")),
        )
    except ValueError as e:
        print(f"infer error: {e}", file=sys.stderr)
        return 1
    print(text, end="")
    return 0


def _curate_mode(argv: list[str]) -> int:
    """`curate <corpus.parquet> --output DIR [--chunk-words N]
    [--max-docs N] [--benchmark bench.parquet] [--decontam-n N]
    [--text-col text] [--key-col url]` — the corpus-curation pass as a
    deployment surface: quality keep/drop, chunk-level dedup (rewrites
    text), optional benchmark decontamination, one verdict per document
    written as parquet plus a single JSON metrics line (counters ride
    the write action via observe — zero extra passes).

    Runs as its own GLOBAL job rather than inside the per-bucket
    checkpointed loop: chunk dedup's first-occurrence rule is
    cross-document, so slicing it per bucket would change results with
    the bucket count. The per-doc quality chain stays bucket-
    checkpointable via the main pipeline; this subcommand is the
    corpus-wide second pass.
    """
    paths, opts = _parse_subcommand_argv(argv, (
        "output", "chunk_words", "max_docs", "benchmark", "decontam_n",
        "text_col", "key_col", "classifier", "classifier_threshold",
        "langid_model", "langid_threshold", "ppl_model", "ppl_threshold",
        "shards", "input_snapshot", "snapshot_output", "snapshot_mode",
    ), flags=("justext",))
    if not paths or ("output" not in opts and "snapshot_output" not in opts):
        print("usage: curate <corpus.parquet|snapshot-table-dir> "
              "--output DIR "
              "[--chunk-words N] [--max-docs N] [--benchmark PARQUET] "
              "[--decontam-n N] [--text-col text] [--key-col url] "
              "[--justext  (DOM boilerplate strip; needs an html col)] "
              "[--classifier MODEL.json [--classifier-threshold P]] "
              "[--langid-model MODEL.json [--langid-threshold P]  "
              "(train-langid output; trained softmax replaces the "
              "marker-word scorer; prob < P -> 'und')] "
              "[--ppl-model LM.json [--ppl-threshold F]  (train-lm "
              "output; perplexity gate)] "
              "[--shards N  (audited hash-sharded output + _MANIFEST)] "
              "[--input-snapshot N|current  (pinned Iceberg-style read)] "
              "[--snapshot-output TABLE_DIR [--snapshot-mode "
              "append|overwrite]  (atomic snapshot commit)]",
              file=sys.stderr)
        return 2
    if "snapshot_output" in opts and "output" in opts:
        # ambiguous: the snapshot branch would silently skip --output
        # (review finding r4) — make the caller pick one sink
        print("error: pass either --output or --snapshot-output, not both",
              file=sys.stderr)
        return 2
    if "shards" in opts and "output" not in opts:
        print("error: --shards requires --output (a plain sharded "
              "directory, not a snapshot table)", file=sys.stderr)
        return 2
    if "langid_threshold" in opts and "langid_model" not in opts:
        print("error: --langid-threshold requires --langid-model",
              file=sys.stderr)
        return 2
    if "ppl_threshold" in opts and "ppl_model" not in opts:
        # a forgotten --ppl-model would otherwise run with NO
        # perplexity gate while reading as "threshold applied"
        print("error: --ppl-threshold requires --ppl-model",
              file=sys.stderr)
        return 2
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: N812

    spark = _subcommand_spark()
    from fingerprint_spark.operators.curation import (
        boilerplate_filter, chunk_dedup, decontaminate,
    )
    from fingerprint_spark.pipeline import quality_filter_text

    text_col = opts.get("text_col", "text")
    key_col = opts.get("key_col", "url")
    chunk_words = int(opts.get("chunk_words", "12"))
    if "input_snapshot" in opts:
        # pinned Iceberg-style read: the curate pass sees snapshot N
        # byte-stably even while another writer commits N+1; the
        # witness row records which corpus state this run consumed
        from fingerprint_spark.snapshots import (
            load_manifest, read_snapshot, witness_read,
        )

        sval = opts["input_snapshot"]
        sid = None if sval in ("", "current") else int(sval)
        try:
            manifest = load_manifest(paths[0], sid)
        except FileNotFoundError as e:
            # clean CLI contract (ADVICE r4): a non-snapshot path must
            # not surface a raw traceback
            print(f"error: --input-snapshot: {e}", file=sys.stderr)
            return 2
        df = read_snapshot(spark, paths[0], manifest["snapshot_id"])
        witness_read(paths[0], manifest, tool="curate")
    else:
        df = spark.read.parquet(paths[0])
    if "justext" in opts:
        # opt-in DOM boilerplate strip (VERDICT r4 #5): the JusText
        # pass replaces the text column with the stripped main text,
        # so EVERY downstream stage (quality chain, chunk dedup,
        # decontam, classifier) sees boilerplate-free text; block
        # counters ride the same observe() action
        if "html" not in df.columns:
            print("error: --justext requires an 'html' column in the "
                  "corpus", file=sys.stderr)
            return 2
        from fingerprint_spark.operators.boilerplate_dom import (
            strip_boilerplate,
        )

        bp = strip_boilerplate(df, "html", key_col).select(
            F.col("url").alias(key_col),
            F.col("main_text").alias(text_col),
            "n_good", "n_bad",
        )
        df = df.drop(text_col).join(bp, key_col)
    langid_model = None
    if "langid_model" in opts:
        # opt-in trained language stage: the model file comes from
        # `train-langid` (fastText-shaped hashed char-n-gram softmax);
        # it replaces the marker-word scorer inside the quality chain.
        # Still zero-shuffle, but via the Arrow kernel (one
        # ArrowEvalPython stage — the 46x-measured corpus path), not
        # the pure-Column fold
        try:
            langid_model, _ = _load_langid_model_file(
                opts["langid_model"]
            )
        except (OSError, ValueError) as e:
            print(f"error: --langid-model: {e}", file=sys.stderr)
            return 2
    classifier_model = None
    if "classifier" in opts:
        from fingerprint_spark.operators.quality_classifier import (
            quality_model_from_json,
        )

        try:
            with open(opts["classifier"]) as fh:
                classifier_model = quality_model_from_json(fh.read())
        except (OSError, ValueError) as e:
            print(f"error: --classifier: {e}", file=sys.stderr)
            return 2
    from fingerprint_spark.pipeline import (
        DEFAULT_LANGID_THRESHOLD,
        DEFAULT_PPL_THRESHOLD,
    )

    langid_threshold = float(
        opts.get("langid_threshold", str(DEFAULT_LANGID_THRESHOLD))
    )
    ppl_threshold = float(
        opts.get("ppl_threshold", str(DEFAULT_PPL_THRESHOLD))
    )
    ppl_model = None
    if "ppl_model" in opts:
        # opt-in trained perplexity gate: the model file comes from
        # `train-lm` (distributed n-gram counting); the threshold
        # folds into keep/drop_reason inside the quality chain
        from fingerprint_spark.functions.perplexity import model_from_json

        try:
            with open(opts["ppl_model"]) as fh:
                ppl_model = model_from_json(fh.read())
        except (OSError, ValueError, KeyError, TypeError,
                AttributeError) as e:
            # TypeError/AttributeError: structurally-malformed JSON
            # (a list, logp as a list, ...) must stay a clean error
            print(f"error: --ppl-model: {e}", file=sys.stderr)
            return 2
    quality = quality_filter_text(
        df, text_col=text_col,
        ppl_threshold=ppl_threshold,
        ppl_model=ppl_model,
        langid_model=langid_model,
        langid_threshold=langid_threshold,
    )
    base = quality.select(
        key_col,
        F.col("keep").cast("int").alias("keep_quality"),
        F.col("drop_reason"),
    )
    if "max_docs" in opts:
        # RefinedWeb mode: chunks in > max-docs documents are removed
        # from EVERY document (no first occurrence survives)
        ded = boilerplate_filter(
            df, text_col, key_col, chunk_words, int(opts["max_docs"])
        ).withColumnRenamed("text_clean", "text_dedup")
    else:
        ded = chunk_dedup(df, text_col, key_col, chunk_words)
    out = base.join(ded, key_col)
    if "benchmark" in opts:
        bench = spark.read.parquet(opts["benchmark"])
        cont = decontaminate(
            df, bench, text_col, key_col, int(opts.get("decontam_n", "13"))
        )
        out = out.join(cont.select(key_col, "contaminated"), key_col)
    else:
        out = out.withColumn("contaminated", F.lit(0))
    if "justext" in opts:
        out = out.join(df.select(key_col, "n_good", "n_bad"), key_col)
    keep = (
        (F.col("keep_quality") == 1)
        & (F.col("contaminated") == 0)
        & (F.col("n_kept") > 0)
    )
    if "classifier" in opts:
        # opt-in learned quality gate (VERDICT r4 #5): score the
        # (possibly justext-stripped) text with a trained model file
        # and AND the probability threshold into the final verdict
        from fingerprint_spark.operators.quality_classifier import (
            quality_score_arrow,
        )

        thr = float(opts.get("classifier_threshold", "0.5"))
        # the Arrow kernel (per-batch word memo + numpy fold) is ~3x
        # the Column fold's throughput at dim=4096 — the right default
        # for the corpus pass; parity with the Column path is pinned
        # at 1e-9 by test_quality_classifier
        scored = quality_score_arrow(
            df.select(key_col, text_col), classifier_model,
            text_col=text_col, hasher=classifier_model["hasher"],
        )
        out = out.join(scored.select(key_col, "quality_prob"), key_col)
        keep = keep & (F.col("quality_prob") >= F.lit(thr))
    out = out.withColumn("final_keep", keep.cast("int"))
    if "shards" in opts:
        from fingerprint_spark.sinks import write_training_shards

        manifest = write_training_shards(
            out, opts["output"], key_col, int(opts["shards"])
        )
        print(json.dumps({"metric": "curate", "sharded": True,
                          "n_shards": manifest["n_shards"],
                          "docs": manifest["total_rows"],
                          "output": opts["output"]}))
        return 0
    obs = Observation("curate")
    counters = [
        F.count(F.lit(1)).alias("docs"),
        F.sum("keep_quality").alias("kept_quality"),
        F.sum("contaminated").alias("contaminated"),
        F.sum("n_chunks").alias("chunks_total"),
        F.sum("n_kept").alias("chunks_kept"),
        F.sum("final_keep").alias("final_keep"),
    ]
    if "justext" in opts:
        counters += [
            F.sum("n_good").alias("justext_blocks_good"),
            F.sum("n_bad").alias("justext_blocks_bad"),
        ]
    if "classifier" in opts:
        counters.append(
            F.sum(
                (F.col("quality_prob")
                 >= float(opts.get("classifier_threshold", "0.5"))
                 ).cast("int")
            ).alias("classifier_keep")
        )
    if "ppl_model" in opts:
        counters.append(
            F.sum(
                (F.col("drop_reason") == "perplexity").cast("int")
            ).alias("ppl_dropped")
        )
    if "langid_model" in opts:
        counters.append(
            F.sum(
                F.col("drop_reason").startswith("langid:").cast("int")
            ).alias("langid_dropped")
        )
    out = out.observe(obs, *counters)
    if "snapshot_output" in opts:
        # atomic snapshot commit: the verdicts become snapshot N+1 of
        # an Iceberg-style table; concurrent pinned readers of N are
        # untouched (the counters ride the commit's write action)
        from fingerprint_spark.snapshots import commit_snapshot

        manifest = commit_snapshot(
            out, opts["snapshot_output"],
            mode=opts.get("snapshot_mode", "overwrite"),
        )
        print(json.dumps({"metric": "curate", **obs.get,
                          "output": opts["snapshot_output"],
                          "snapshot_id": manifest["snapshot_id"],
                          "parent_id": manifest["parent_id"]}))
        return 0
    out.write.mode("overwrite").parquet(opts["output"])
    print(json.dumps({"metric": "curate", **obs.get,
                      "output": opts["output"]}))
    return 0


def _train_classifier_mode(argv: list[str]) -> int:
    """`train-classifier <labeled.parquet> --output MODEL.json
    [--dim N] [--epochs N] [--lr F] [--text-col text]
    [--label-col label] [--hasher xxhash|md5]` — train the
    hashed-feature logreg on a labeled parquet (text + 0/1 label) and
    write the model file the curate --classifier stage consumes,
    closing the deployed train->score loop. Prints one JSON line with
    the training-set accuracy at threshold 0.5 (observe-free: one
    scoring pass over the labeled set, which is small by contract)."""
    paths, opts = _parse_subcommand_argv(argv, (
        "output", "dim", "epochs", "lr", "text_col", "label_col", "hasher",
    ))
    if not paths or "output" not in opts:
        print("usage: train-classifier <labeled.parquet> --output "
              "MODEL.json [--dim N] [--epochs N] [--lr F] "
              "[--text-col text] [--label-col label] "
              "[--hasher xxhash|md5]", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F  # noqa: N812

    spark = _subcommand_spark()
    from fingerprint_spark.operators.quality_classifier import (
        quality_score_arrow,
        train_quality_logreg,
    )

    text_col = opts.get("text_col", "text")
    label_col = opts.get("label_col", "label")
    hasher = opts.get("hasher", "xxhash")
    df = spark.read.parquet(paths[0])
    for c in (text_col, label_col):
        if c not in df.columns:
            print(f"error: column {c!r} not in {paths[0]}",
                  file=sys.stderr)
            return 2
    try:
        model = train_quality_logreg(
            df, text_col=text_col, label_col=label_col,
            dim=int(opts.get("dim", "4096")),
            epochs=int(opts.get("epochs", "8")),
            lr=float(opts.get("lr", "2.0")),
            hasher=hasher,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    model["hasher"] = hasher
    scored = quality_score_arrow(
        df.select(text_col, label_col), model, text_col=text_col,
        hasher=hasher,
    )
    acc_row = scored.select(
        F.avg(
            ((F.col("quality_prob") >= 0.5).cast("int")
             == F.col(label_col).cast("int")).cast("double")
        ).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]  # driver-bounded: 1 row
    with open(opts["output"], "w") as fh:
        json.dump(model, fh, sort_keys=True)
    print(json.dumps({
        "metric": "train_classifier", "output": opts["output"],
        "n_labeled": acc_row["n"], "dim": model["dim"],
        "hasher": hasher, "n_weights": len(model["weights"]),
        "train_accuracy": round(float(acc_row["acc"]), 4),
    }))
    return 0


def _train_lm_mode(argv: list[str]) -> int:
    """`train-lm <corpus.parquet> --output MODEL.json [--order N]
    [--min-count N] [--max-grams N] [--text-col text]` — train the
    char n-gram perplexity model DISTRIBUTED (one explode + one
    groupBy; the shuffle carries (gram, count) pairs, only the model
    reaches the driver — the driver-side trainer would collect every
    training text) and write the JSON model the curate --ppl-model
    stage consumes."""
    paths, opts = _parse_subcommand_argv(argv, (
        "output", "order", "min_count", "max_grams", "text_col",
    ))
    if not paths or "output" not in opts:
        print("usage: train-lm <corpus.parquet> --output MODEL.json "
              "[--order N] [--min-count N] [--max-grams N] "
              "[--text-col text]", file=sys.stderr)
        return 2
    spark = _subcommand_spark()
    from fingerprint_spark.functions.perplexity import (
        model_to_json,
        train_char_ngram_df,
    )

    from pyspark.errors import AnalysisException

    text_col = opts.get("text_col", "text")
    try:
        df = spark.read.parquet(paths[0])
        if text_col not in df.columns:
            print(f"error: column {text_col!r} not in {paths[0]}",
                  file=sys.stderr)
            return 2
        model = train_char_ngram_df(
            df, text_col,
            order=int(opts.get("order", "3")),
            min_count=int(opts.get("min_count", "1")),
            max_grams=(int(opts["max_grams"]) if "max_grams" in opts
                       else None),
        )
    except (ValueError, AnalysisException) as e:
        print(f"error: train-lm: {e}", file=sys.stderr)
        return 2
    with open(opts["output"], "w") as fh:
        fh.write(model_to_json(model))
    print(json.dumps({
        "metric": "train_lm", "output": opts["output"],
        "order": model.order, "n_grams": len(model.logp),
    }))
    return 0


def _load_langid_model_file(path: str) -> tuple[dict, str]:
    """Load + validate a train-langid MODEL.json; returns (model,
    content-digest). ONE loader for the run and curate surfaces so
    validation/exception behavior cannot diverge. Raises
    OSError/ValueError (callers print their own clean one-line
    error)."""
    import hashlib

    from fingerprint_spark.operators.langid_classifier import (
        langid_model_from_json,
    )

    with open(path) as fh:
        raw = fh.read()
    return (
        langid_model_from_json(raw),
        hashlib.md5(raw.encode()).hexdigest()[:12],
    )


def _train_langid_mode(argv: list[str]) -> int:
    """`train-langid <labeled.parquet> --output MODEL.json [--dim N]
    [--ngram N] [--epochs N] [--lr F] [--text-col text]
    [--label-col lang] [--hasher xxhash|md5]` — train the
    fastText-shaped hashed char-n-gram softmax on a labeled parquet
    (text + language label) and write the model file the curate
    --langid-model stage consumes. grad_round_dp is pinned to 6 so the
    written model is bit-identical to the pure-Python twin's
    (partition-invariant, cross-engine reproducible — the
    train-classifier contract). Prints one JSON line with the
    training-set accuracy (one Arrow scoring pass; the labeled set is
    small by contract)."""
    paths, opts = _parse_subcommand_argv(argv, (
        "output", "dim", "ngram", "epochs", "lr", "text_col", "label_col",
        "hasher",
    ))
    if not paths or "output" not in opts:
        print("usage: train-langid <labeled.parquet> --output "
              "MODEL.json [--dim N] [--ngram N] [--epochs N] [--lr F] "
              "[--text-col text] [--label-col lang] "
              "[--hasher xxhash|md5]", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F  # noqa: N812

    spark = _subcommand_spark()
    from fingerprint_spark.operators.langid_classifier import (
        langid_classify_arrow,
        langid_model_to_json,
        train_langid_softmax,
    )

    from pyspark.errors import AnalysisException

    text_col = opts.get("text_col", "text")
    label_col = opts.get("label_col", "lang")
    hasher = opts.get("hasher", "xxhash")
    try:
        df = spark.read.parquet(paths[0])
        for c in (text_col, label_col):
            if c not in df.columns:
                print(f"error: column {c!r} not in {paths[0]}",
                      file=sys.stderr)
                return 2
        model = train_langid_softmax(
            df, text_col=text_col, label_col=label_col,
            dim=int(opts.get("dim", "2048")),
            n=int(opts.get("ngram", "3")),
            epochs=int(opts.get("epochs", "8")),
            lr=float(opts.get("lr", "2.0")),
            hasher=hasher,
            grad_round_dp=6,
        )
    except (ValueError, AnalysisException) as e:
        # AnalysisException: missing/corrupt input path must stay a
        # clean one-line error, not a traceback (the train-lm contract)
        print(f"error: {e}", file=sys.stderr)
        return 2
    scored = langid_classify_arrow(
        df.select(text_col, label_col), model, text_col=text_col,
        out_col="_pred",
    )
    acc_row = scored.select(
        F.avg(
            (F.col("_pred.lang") == F.col(label_col)).cast("double")
        ).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]  # driver-bounded: 1 row
    with open(opts["output"], "w") as fh:
        fh.write(langid_model_to_json(model))
    print(json.dumps({
        "metric": "train_langid", "output": opts["output"],
        "n_labeled": acc_row["n"], "dim": model["dim"],
        "ngram": model["ngram"], "hasher": hasher,
        "classes": model["classes"],
        "n_weights": len(model["weights"]),
        "train_accuracy": round(float(acc_row["acc"]), 4),
    }))
    return 0


def _frontier_mode(argv: list[str]) -> int:
    """`frontier <filter-table> (--build CORPUS.parquet | --merge
    DELTA.parquet | --probe INCOMING.parquet --output DIR)
    [--key-col url] [--n-bits N] [--k K]` — the incremental crawl
    frontier as a deployment surface: the Bloom filter lives in a
    snapshot table (atomic versioned commits), --build creates
    filter(1) from a corpus, --merge folds a url delta into the
    current filter and commits the next snapshot (cost scales with
    |filter| + |delta|, never the corpus; compare-and-swap on the
    snapshot id — a concurrent merge surfaces as a clean retry error,
    never a silently-lost delta), --probe writes the definitely-new
    rows of an incoming crawl (bloom miss; zero false negatives) plus
    a JSON counter line. Probe strategy is the auto size guard
    (broadcast under the cap, sharded beyond it). --n-bits/--k apply
    to --build only: merge and probe read (n_bits, k) from the
    filter's own marker row — the self-describing params exist so a
    mismatch is impossible, not so the caller re-types them."""
    paths, opts = _parse_subcommand_argv(argv, (
        "build", "merge", "probe", "output", "key_col", "n_bits", "k",
    ))
    n_actions = sum(x in opts for x in ("build", "merge", "probe"))
    if not paths or n_actions != 1 or (
        "probe" in opts and "output" not in opts
    ):
        print("usage: frontier <filter-table> (--build CORPUS.parquet "
              "| --merge DELTA.parquet | --probe INCOMING.parquet "
              "--output DIR) [--key-col url] [--n-bits N] [--k K]",
              file=sys.stderr)
        return 2
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: N812

    spark = _subcommand_spark()
    from fingerprint_spark.operators.bloom import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )
    from pyspark.errors import AnalysisException

    from fingerprint_spark.snapshots import (
        SnapshotConflict,
        commit_snapshot,
        load_manifest,
        read_snapshot,
        witness_read,
    )

    def _marker_params(filt):
        meta = filt.filter(F.col("word_idx") == -1).collect()  # driver-bounded: 1 row
        if not meta:
            raise ValueError(
                "filter table has no parameter marker row (word_idx=-1)"
            )
        built = int(meta[0]["word"])
        return built // 256, built % 256

    def _read_keyed(path):
        df = spark.read.parquet(path)
        if key_col not in df.columns:
            raise ValueError(f"column {key_col!r} not in {path}")
        return df

    table = paths[0]
    key_col = opts.get("key_col", "url")
    try:
        if "build" in opts:
            n_bits = int(opts.get("n_bits", str(1 << 24)))
            k = int(opts.get("k", "5"))
            corpus = _read_keyed(opts["build"])
            filt = bloom_build(corpus, key_col, n_bits, k)
            manifest = commit_snapshot(filt, table, mode="overwrite")
            print(json.dumps({
                "metric": "frontier_build", "filter_table": table,
                "snapshot_id": manifest["snapshot_id"],
                "n_bits": n_bits, "k": k,
                "filter_rows": manifest["n_rows"],
            }))
            return 0
        if "merge" in opts:
            manifest_in = load_manifest(table)
            filt = read_snapshot(spark, table, manifest_in["snapshot_id"])
            n_bits, k = _marker_params(filt)
            witness_read(table, manifest_in, tool="frontier-merge")
            delta = _read_keyed(opts["merge"])
            merged = bloom_merge(filt, delta, key_col, n_bits, k)
            # CAS on the snapshot id: this merge was DERIVED from
            # manifest_in; if another merge landed meanwhile, blindly
            # publishing would silently drop that delta's bits
            manifest = commit_snapshot(
                merged, table, mode="overwrite",
                expected_parent=manifest_in["snapshot_id"],
            )
            print(json.dumps({
                "metric": "frontier_merge", "filter_table": table,
                "parent_snapshot_id": manifest["parent_id"],
                "snapshot_id": manifest["snapshot_id"],
                "filter_rows": manifest["n_rows"],
            }))
            return 0
        manifest_in = load_manifest(table)
        filt = read_snapshot(spark, table, manifest_in["snapshot_id"])
        n_bits, k = _marker_params(filt)
        witness_read(table, manifest_in, tool="frontier-probe")
        incoming = _read_keyed(opts["probe"])
        tagged = bloom_probe(incoming, filt, key_col, n_bits, k)
        obs = Observation("frontier")
        tagged = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("incoming"),
            F.sum("maybe_member").alias("maybe_seen"),
        )
        new = tagged.filter(F.col("maybe_member") == 0).drop("maybe_member")
        new.write.mode("overwrite").parquet(opts["output"])
        got = obs.get
        # an empty incoming crawl observes sum() = NULL, not 0
        seen = int(got["maybe_seen"] or 0)
        print(json.dumps({
            "metric": "frontier_probe", "filter_table": table,
            "snapshot_id": manifest_in["snapshot_id"],
            "incoming": int(got["incoming"]), "maybe_seen": seen,
            "new": int(got["incoming"]) - seen,
            "output": opts["output"],
        }))
        return 0
    except SnapshotConflict as e:
        print(f"error: frontier: concurrent commit — {e}", file=sys.stderr)
        return 2
    except (ValueError, FileNotFoundError, AnalysisException) as e:
        print(f"error: frontier: {e}", file=sys.stderr)
        return 2


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "curate":
        return _curate_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "frontier":
        return _frontier_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "train-classifier":
        return _train_classifier_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "train-lm":
        return _train_lm_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "train-langid":
        return _train_langid_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "compile":
        return _compile_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "witness":
        return _witness_mode(sys.argv[1:])
    if len(sys.argv) > 1 and sys.argv[1] == "infer":
        return _infer_mode(sys.argv[1:])
    rc = _display_surfaces(sys.argv[1:])
    if rc is not None:
        return rc
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--rules-dir", default=None)
    ap.add_argument("--day", default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--params-version", default="v1")
    ap.add_argument(
        "--diagnose",
        action="store_true",
        help="full-evaluation diagnostics for template-unmatched docs "
        "(per-assertion results + nearest-heading / partial-match / "
        "out-of-range context) written as a diagnosis column",
    )
    ap.add_argument(
        "--fp",
        action="append",
        default=None,
        metavar="ID",
        help="select specific fingerprint rules in order (repeatable); "
        "requesting a child without its parent refuses with "
        "E_ORPHAN_CHILD (reference --fp semantics)",
    )
    ap.add_argument(
        "--no-witness", action="store_true", help="skip the witness ledger append"
    )
    ap.add_argument(
        "--keep-parsed",
        action="store_true",
        help="persist the parsed struct in the output (enables later "
        "--revalidate passes without re-parsing the crawl)",
    )
    ap.add_argument(
        "--revalidate",
        action="store_true",
        help="input is a PREVIOUS run's output carrying the parsed "
        "struct: apply the (new) rule set as a pure expression pass — "
        "no html parse, no Python stage (north_star incremental "
        "re-validation)",
    )
    ap.add_argument(
        "--langid-model",
        default=None,
        metavar="MODEL.json",
        help="train-langid output: swap the marker-word language "
        "scorer for the trained fastText-shaped softmax in the "
        "flagship chain (lang_score becomes the softmax probability)",
    )
    ap.add_argument(
        "--langid-threshold",
        type=float,
        default=None,
        metavar="P",
        help="trained-langid unknown-language gate: predictions with "
        "softmax prob < P become 'und' and drop (default 0.5, the "
        "CCNet fastText gate); requires --langid-model",
    )
    args = ap.parse_args()
    if args.langid_threshold is not None and not args.langid_model:
        # a forgotten --langid-model would otherwise run with NO
        # trained stage while reading as "threshold applied"
        print("error: --langid-threshold requires --langid-model",
              file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("fingerprint_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from fingerprint_spark.checkpoint import CheckpointedRun
    from fingerprint_spark.deploy import ensure_pyfiles
    from fingerprint_spark.pipeline import (
        DEFAULT_LANGID_THRESHOLD,
        quality_filter,
    )
    from fingerprint_spark.sources.corpus_io import read_corpus
    from fingerprint_spark.witness import append_witness

    ensure_pyfiles(spark)

    registry = _load_registry(args.rules_dir)
    if registry is None:
        return 2
    if args.fp:
        from fingerprint_spark.dsl.registry import RegistryError

        try:
            rules = registry.resolve(args.fp)
        except RegistryError as e:
            print(f"rule selection error: {e}", file=sys.stderr)
            return 2
    else:
        rules = registry.list()

    langid_model = langid_digest = None
    if args.langid_model:
        if args.revalidate:
            # the revalidate path is a pure rule-expression pass with
            # no language stage — silently ignoring a verdict-changing
            # flag would mislead
            print("error: --langid-model has no effect with "
                  "--revalidate", file=sys.stderr)
            return 2
        try:
            langid_model, langid_digest = _load_langid_model_file(
                args.langid_model
            )
        except (OSError, ValueError) as e:
            print(f"error: --langid-model: {e}", file=sys.stderr)
            return 2

    if args.revalidate:
        df = spark.read.parquet(args.input)
        if "parsed" not in df.columns:
            sys.exit(
                "--revalidate needs an input produced with --keep-parsed "
                "(no 'parsed' column found)"
            )
    else:
        df = read_corpus(spark, args.input, day=args.day)

    # the langid model is a VERDICT-CHANGING parameter: fold its
    # content digest into the checkpoint params hash so a resume with
    # a different (or newly added / removed) model earns ZERO resume
    # credit from the old buckets — every bucket recomputes under the
    # new hash instead of silently mixing marker-scored and
    # trained-scored verdicts in one output
    params_hash = args.params_version
    if langid_digest is not None:
        params_hash = f"{params_hash}+langid:{langid_digest}"
    run = CheckpointedRun(
        args.output, n_buckets=args.buckets, params_hash=params_hash
    )
    try:
        committed = run.completed_buckets()
    except ValueError as e:  # bucketing-scheme mismatch: clean refusal
        print(f"refusing: {e}", file=sys.stderr)
        return 2
    if not args.resume and committed:
        sys.exit(
            "output has committed buckets; pass --resume to continue or "
            "choose a fresh --output"
        )

    def extract_cols(out):
        # the winner's extraction, present when the rules declare it
        names = ("extracted", "content_hash", "child_content_hash")
        return [c for c in names if c in out.columns]

    def stage(part):
        if args.revalidate:
            from fingerprint_spark.pipeline import revalidate

            out = revalidate(part, rules)
            keep = ["url", "fingerprint", "children", "child_routing"]
            if "warc_ts" in part.columns:
                keep.insert(1, "warc_ts")
            keep += extract_cols(out)
            if args.keep_parsed:
                keep.append("parsed")
            return out.select(*keep)
        out = quality_filter(
            part, rules=rules, langid_model=langid_model,
            langid_threshold=(
                DEFAULT_LANGID_THRESHOLD if args.langid_threshold is None
                else args.langid_threshold
            ),
        )
        # lang_score in the output: the marker fraction vs softmax
        # probability is the observable difference between language
        # tiers (downstream threshold tuning + test observability)
        cols = [
            "url", "warc_ts", "keep", "drop_reason", "scrubbed_text",
            "lang_detected", "lang_score", "ppl", "simhash", "scrub",
            "fingerprint", "child_routing", "warnings", "tool_versions",
            *extract_cols(out),
        ]
        if args.keep_parsed:
            cols.append("parsed")
        if args.diagnose:
            # diagnose mode (src/lib.rs --diagnose analog): every root
            # rule fully evaluated for docs the fold did NOT match, with
            # authoring context; JSON-encoded so the output schema stays
            # stable across rule sets
            from pyspark.sql import functions as FF

            from fingerprint_spark.operators.diagnose import diagnose_rule

            env = {"url": FF.col("url"), "parsed": FF.col("parsed")}
            diags = [diagnose_rule(r, env) for r in rules if r.parent is None]
            out = out.withColumn(
                "diagnosis",
                FF.when(
                    ~FF.col("fingerprint.matched"),
                    FF.to_json(FF.struct(*[
                        d.alias(f"rule_{i}") for i, d in enumerate(diags)
                    ])),
                ),
            )
            cols.append("diagnosis")
        return out.select(*cols)

    summary = run.run(df, stage)
    metrics_total = {}
    for rec in summary["records"]:
        for k, v in rec["metrics"].items():
            metrics_total[k] = metrics_total.get(k, 0) + (v or 0)

    outcome = "OK" if summary["complete"] else "PARTIAL"
    if not args.no_witness:
        append_witness(
            tool="run_pipeline",
            inputs={"input": args.input, "day": args.day},
            params={
                "rules": [r.fingerprint_id for r in rules],
                "buckets": args.buckets,
                "params_version": args.params_version,
                # provenance: two runs differing only in the trained
                # language model must be distinguishable in the ledger
                "langid_model": langid_digest,
            },
            outcome=outcome,
            exit_code=0 if summary["complete"] else 1,
        )
    print(
        json.dumps(
            {
                "outcome": outcome,
                "processed_buckets": summary["processed_buckets"],
                "skipped_buckets": summary["skipped_buckets"],
                "metrics": metrics_total,
                "output": args.output,
            },
            sort_keys=True,
        )
    )
    return 0 if summary["complete"] else 1


if __name__ == "__main__":
    sys.exit(main())
