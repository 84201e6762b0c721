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

Every mode — ``run`` above and the subcommands ``curate``, ``frontier``,
``train-classifier``, ``train-lm``, ``train-langid``, ``compile``,
``witness`` and ``infer`` — is one entry of the ``MODES`` table: its
arguments with their kinds, defaults and help, its cross-option rules
and whether it starts a JVM. One argparse parser per mode is built from
it. Every refusal is one JSON envelope line on stderr and exit 2; exit
1 is run's PARTIAL outcome alone.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fingerprint_spark.pipeline import (  # noqa: E402
    DEFAULT_LANGID_THRESHOLD,
    DEFAULT_PPL_THRESHOLD,
)

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
    "E_USAGE", "E_BAD_INPUT",
]


class Opt(NamedTuple):
    """One argument of a mode. ``name`` is ``--flag`` for an option and a
    bare word for a positional. ``kind`` is a ``KINDS`` key. A
    ``default`` of ``...`` makes the argument required; a positional
    with any other default is optional."""

    name: str
    kind: str
    default: object
    help: str
    choices: tuple[str, ...] = ()


class Mode(NamedTuple):
    """One CLI mode: its handler, its arguments, whether it starts a
    SparkSession, and its cross-option rules — ``requires`` (a needs b),
    ``excludes`` (a has no effect with b) and ``one_of`` (exactly one of
    these is given)."""

    run: Callable[[argparse.Namespace], int]
    args: tuple[Opt, ...]
    jvm: bool = True
    requires: tuple[tuple[str, str], ...] = ()
    excludes: tuple[tuple[str, str], ...] = ()
    one_of: tuple[str, ...] = ()


def count(text: str) -> int:
    """An integer >= 1: a bucket, shard, word or iteration count."""
    n = int(text)
    if n < 1:
        raise ValueError(text)
    return n


KINDS = {
    "str": {},
    "count": {"type": count},
    "float": {"type": float},
    "flag": {"action": "store_true"},
    "append": {"action": "append"},
}

# run's display flags: they short-circuit before any validation
DISPLAY = (
    Opt("--describe", "flag", False, "print operator descriptor JSON and exit"),
    Opt("--schema", "flag", False, "print output record JSON-Schema and exit"),
    Opt("--list", "flag", False, "print registered rules and exit"),
    Opt("--version", "flag", False, "print version banner and exit"),
)


class Refused(Exception):
    """A refusal raised anywhere in a mode; ``main`` prints it through
    ``refuse``."""

    def __init__(self, code: str, message: str):
        super().__init__(message)
        self.code = code


def refuse(mode: str, code: str, message: str) -> int:
    """The refusal envelope (the reference's, SURVEY §2.10): one JSON
    line on stderr, exit 2."""
    print(json.dumps({"refusal": {"code": code, "mode": mode, "message": message}},
                     ensure_ascii=False), file=sys.stderr)
    return 2


class _Parser(argparse.ArgumentParser):
    """argparse whose usage errors are E_USAGE refusals, not exits."""

    def error(self, message: str):
        message = message.replace("argument -", "option -", 1)
        raise Refused("E_USAGE", f"{self.prog}: {message}\n{self.format_usage().strip()}")


def _dest(name: str) -> str:
    return name.lstrip("-").replace("-", "_")


def _parse(name: str, argv: list[str]) -> argparse.Namespace:
    """``argv`` checked against the mode's table entry — unknown options,
    kinds, bounds and the cross-option rules, each an E_USAGE refusal.
    The result holds every declared argument, defaults filled in."""
    mode = MODES[name]
    ap = _Parser(prog="run_pipeline.py" if name == "run" else name,
                 add_help=name == "run", allow_abbrev=False,
                 argument_default=argparse.SUPPRESS)
    for o in mode.args:
        kw = dict(KINDS[o.kind], help=o.help)
        if o.choices:
            kw["choices"] = o.choices
        if o.name.startswith("-"):
            kw["required"] = o.default is ...
        elif o.default is not ...:
            kw["nargs"] = "?"
        ap.add_argument(o.name, **kw)
    parsed, extra = ap.parse_known_args(argv)
    if extra:
        ap.error(("unknown option " if extra[0].startswith("-")
                  else "unexpected argument ") + extra[0])
    given = vars(parsed)  # SUPPRESS keeps an argument not given out of it
    for a, b in mode.requires:
        if _dest(a) in given and _dest(b) not in given:
            raise Refused("E_USAGE", f"error: {a} requires {b}")
    for a, b in mode.excludes:
        if _dest(a) in given and _dest(b) in given:
            raise Refused("E_USAGE", f"error: {a} has no effect with {b}")
    if mode.one_of and sum(_dest(a) in given for a in mode.one_of) != 1:
        raise Refused("E_USAGE", "error: pass exactly one of " + ", ".join(mode.one_of))
    return argparse.Namespace(**{**{_dest(o.name): o.default for o in mode.args}, **given})


def _flags(args: tuple[Opt, ...]) -> list[dict]:
    return [{"flag": o.name, "help": o.help} for o in args if o.name.startswith("-")]


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
            "options": _flags(MODES["run"].args + DISPLAY),
            "subcommands": {
                name: {"jvm": m.jvm, "options": _flags(m.args)}
                for name, m in MODES.items() if name != "run"
            },
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
        for r in _load_rules(rules_dir, None):
            parent = r.parent or "-"
            print(f"{r.fingerprint_id}\t{r.format}\t{parent}\t{r.source}")
        return 0
    if "--version" in argv:
        print(f"fingerprint_spark {__version__}")
        return 0
    return None


def _load_rules(rules_dir: str | None, fp: list[str] | None) -> list:
    """The builtin rules plus ``rules_dir``'s *.fp.yaml: all of them, or
    the ``fp`` ids in order. A rule that fails to parse or validate, a
    missing directory and a bad selection are refused with the error's
    own E_* code. Validation judges regexes with java.util.regex when a
    SparkSession is up, else with Python ``re``."""
    from fingerprint_spark.dsl.parser import ParseError
    from fingerprint_spark.dsl.registry import Registry, RegistryError, builtin_rules
    from fingerprint_spark.dsl.validate import ValidationError

    try:
        reg = Registry.load_dir(rules_dir) if rules_dir else Registry(builtin_rules())
    except (ParseError, ValidationError, RegistryError) as e:
        raise Refused(e.code, f"rule load error: {e}") from None
    try:
        return reg.resolve(fp) if fp else reg.list()
    except RegistryError as e:
        raise Refused(e.code, f"rule selection error: {e}") from None


def _session():
    """The one SparkSession preamble of every mode. It sets no master:
    spark-submit supplies it, and plain ``python`` gets PySpark's
    ``local[*]``. Quiet logs; executor code via addPyFile."""
    from pyspark.sql import SparkSession

    from fingerprint_spark.deploy import ensure_pyfiles

    spark = SparkSession.builder.appName("fingerprint_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_pyfiles(spark)
    return spark


def _read_parquet(spark, path: str, *cols: str):
    """``path`` as a DataFrame holding ``cols``; a path Spark cannot
    read or a missing column is refused."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        raise Refused("E_BAD_INPUT", f"error: {e}") from None
    for c in cols:
        if c not in df.columns:
            raise Refused("E_BAD_INPUT", f"error: column {c!r} not in {path}")
    return df


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


def _compile_mode(args: argparse.Namespace) -> int:
    """`compile <rule.fp.yaml> [--check]` / `compile --schema` — the
    reference's compile surface (src/compile/, cli_smoke_surfaces.rs).
    --check parses + validates only; full compile also builds the
    Catalyst expression tree (the engine's 'generated code') and prints
    a descriptor with the rule's source_hash and the compiled match
    expression."""
    if args.schema:
        print(json.dumps(_rule_definition_schema(), sort_keys=True))
        return 0
    from fingerprint_spark.dsl.parser import ParseError, parse_yaml
    from fingerprint_spark.dsl.validate import ValidationError, validate_definition

    try:
        with open(args.rule) as f:
            d = parse_yaml(f.read(), source=args.rule)
        validate_definition(d)
    except (OSError, ParseError, ValidationError) as e:
        raise Refused(getattr(e, "code", "E_BAD_INPUT"), f"compile error: {e}") from None
    if args.check:
        print(f"OK {d.fingerprint_id}")
        return 0
    # full compile materializes the Catalyst expression tree — Column
    # construction needs a JVM (--check above stays session-free for
    # fast CI validation)
    from pyspark.sql import functions as F  # noqa: N812

    from fingerprint_spark.dsl.compiler import compile_rule

    _session()
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


def _witness_mode(args: argparse.Namespace) -> int:
    """`witness query|last|count [--tool --outcome --since --until
    --input-hash]` — the reference's witness CLI (src/cli/args.rs witness
    subcommands, src/witness/query.rs:13-119). The ledger is a small
    driver-side JSONL; no SparkSession needed for the CLI surface."""
    from fingerprint_spark.witness import ledger_path

    path = args.path or ledger_path()
    records = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    records.append(json.loads(line))
    exact = {"tool": args.tool, "outcome": args.outcome, "input_hash": args.input_hash}

    def keep(r: dict) -> bool:
        ts = r.get("ts", "")
        return (all(v is None or r.get(k) == v for k, v in exact.items())
                and (args.since is None or ts >= args.since)
                and (args.until is None or ts <= args.until))

    matched = sorted((r for r in records if keep(r)), key=lambda r: r.get("ts", ""))
    if args.action == "count":
        print(len(matched))
    elif args.action == "last":
        if matched:
            print(json.dumps(matched[-1], sort_keys=True))
    else:
        for r in matched:
            print(json.dumps(r, sort_keys=True))
    return 0


def _infer_mode(args: argparse.Namespace) -> int:
    """`infer <corpus.parquet> --id ID [--min-confidence F]
    [--content-col html]` — mine candidate assertions from a corpus
    and print a deterministic .fp.yaml (reference infer subcommand,
    tests/infer_subcommand.rs; input is a parquet corpus rather than a
    file directory — the Spark-native shape)."""
    from pyspark.sql import functions as F  # noqa: N812

    from fingerprint_spark.operators.infer import infer_rule
    from fingerprint_spark.parse import parse_html_col

    spark = _session()
    df = _read_parquet(spark, args.corpus, "url", args.content_col)
    parsed = df.select(
        F.col("url"),
        parse_html_col(F.col(args.content_col).cast("string")).alias("parsed"),
    )
    try:
        _d, text = infer_rule(parsed, args.id, args.min_confidence)
    except ValueError as e:
        raise Refused("E_BAD_INPUT", f"infer error: {e}") from None
    print(text, end="")
    return 0


def _curate_mode(args: argparse.Namespace) -> int:
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
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: N812

    text_col, key_col = args.text_col, args.key_col
    # the model files are plain JSON: load them before the session
    langid_model = classifier_model = ppl_model = None
    if args.langid_model:
        # opt-in trained language stage: the model file comes from
        # `train-langid` (fastText-shaped hashed char-n-gram softmax);
        # it replaces the marker-word scorer inside the quality chain.
        # Still zero-shuffle, but via the Arrow kernel (one
        # ArrowEvalPython stage — the 46x-measured corpus path), not
        # the pure-Column fold
        langid_model, _ = _load_langid_model_file(args.langid_model)
    if args.classifier:
        from fingerprint_spark.operators.quality_classifier import (
            quality_model_from_json,
        )

        try:
            with open(args.classifier) as fh:
                classifier_model = quality_model_from_json(fh.read())
        except (OSError, ValueError) as e:
            # the one refusal outside the envelope: its single
            # `error: --classifier:` stderr line is pinned by
            # test_train_classifier_cli_closes_the_loop
            print(f"error: --classifier: {e}", file=sys.stderr)
            return 2
    if args.ppl_model:
        # opt-in trained perplexity gate: the model file comes from
        # `train-lm` (distributed n-gram counting); the threshold
        # folds into keep/drop_reason inside the quality chain
        from fingerprint_spark.functions.perplexity import model_from_json

        try:
            with open(args.ppl_model) as fh:
                ppl_model = model_from_json(fh.read())
        except (OSError, ValueError, KeyError, TypeError,
                AttributeError) as e:
            # TypeError/AttributeError: structurally-malformed JSON
            # (a list, logp as a list, ...) must stay a clean error
            raise Refused("E_BAD_INPUT", f"error: --ppl-model: {e}") from None

    spark = _session()
    from fingerprint_spark.operators.curation import (
        boilerplate_filter, chunk_dedup, decontaminate,
    )
    from fingerprint_spark.pipeline import quality_filter_text

    if args.input_snapshot is not None:
        # pinned Iceberg-style read: the curate pass sees snapshot N
        # byte-stably even while another writer commits N+1; the
        # witness row records which corpus state this run consumed
        from fingerprint_spark.snapshots import (
            load_manifest, read_snapshot, witness_read,
        )

        sval = args.input_snapshot
        try:
            manifest = load_manifest(
                args.corpus, None if sval in ("", "current") else int(sval)
            )
        except (FileNotFoundError, ValueError) as e:
            # clean CLI contract (ADVICE r4): a non-snapshot path must
            # not surface a raw traceback
            raise Refused("E_BAD_INPUT", f"error: --input-snapshot: {e}") from None
        df = read_snapshot(spark, args.corpus, manifest["snapshot_id"])
        witness_read(args.corpus, manifest, tool="curate")
    else:
        df = _read_parquet(spark, args.corpus)
    if args.justext:
        # opt-in DOM boilerplate strip (VERDICT r4 #5): the JusText
        # pass replaces the text column with the stripped main text,
        # so EVERY downstream stage (quality chain, chunk dedup,
        # decontam, classifier) sees boilerplate-free text; block
        # counters ride the same observe() action
        if "html" not in df.columns:
            raise Refused("E_BAD_INPUT",
                          "error: --justext requires an 'html' column in the corpus")
        from fingerprint_spark.operators.boilerplate_dom import (
            strip_boilerplate,
        )

        bp = strip_boilerplate(df, "html", key_col).select(
            F.col("url").alias(key_col),
            F.col("main_text").alias(text_col),
            "n_good", "n_bad",
        )
        df = df.drop(text_col).join(bp, key_col)
    quality = quality_filter_text(
        df, text_col=text_col,
        ppl_threshold=args.ppl_threshold,
        ppl_model=ppl_model,
        langid_model=langid_model,
        langid_threshold=args.langid_threshold,
    )
    base = quality.select(
        key_col,
        F.col("keep").cast("int").alias("keep_quality"),
        F.col("drop_reason"),
    )
    if args.max_docs is not None:
        # RefinedWeb mode: chunks in > max-docs documents are removed
        # from EVERY document (no first occurrence survives)
        ded = boilerplate_filter(
            df, text_col, key_col, args.chunk_words, args.max_docs
        ).withColumnRenamed("text_clean", "text_dedup")
    else:
        ded = chunk_dedup(df, text_col, key_col, args.chunk_words)
    out = base.join(ded, key_col)
    if args.benchmark:
        bench = _read_parquet(spark, args.benchmark)
        cont = decontaminate(df, bench, text_col, key_col, args.decontam_n)
        out = out.join(cont.select(key_col, "contaminated"), key_col)
    else:
        out = out.withColumn("contaminated", F.lit(0))
    if args.justext:
        out = out.join(df.select(key_col, "n_good", "n_bad"), key_col)
    keep = (
        (F.col("keep_quality") == 1)
        & (F.col("contaminated") == 0)
        & (F.col("n_kept") > 0)
    )
    thr = args.classifier_threshold
    if classifier_model is not None:
        # opt-in learned quality gate (VERDICT r4 #5): score the
        # (possibly justext-stripped) text with a trained model file
        # and AND the probability threshold into the final verdict
        from fingerprint_spark.operators.quality_classifier import (
            quality_score_arrow,
        )

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
    if args.shards is not None:
        from fingerprint_spark.sinks import write_training_shards

        manifest = write_training_shards(out, args.output, key_col, args.shards)
        print(json.dumps({"metric": "curate", "sharded": True,
                          "n_shards": manifest["n_shards"],
                          "docs": manifest["total_rows"],
                          "output": args.output}))
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
    if args.justext:
        counters += [
            F.sum("n_good").alias("justext_blocks_good"),
            F.sum("n_bad").alias("justext_blocks_bad"),
        ]
    if classifier_model is not None:
        counters.append(
            F.sum((F.col("quality_prob") >= thr).cast("int")).alias("classifier_keep")
        )
    if ppl_model is not None:
        counters.append(
            F.sum(
                (F.col("drop_reason") == "perplexity").cast("int")
            ).alias("ppl_dropped")
        )
    if langid_model is not None:
        counters.append(
            F.sum(
                F.col("drop_reason").startswith("langid:").cast("int")
            ).alias("langid_dropped")
        )
    out = out.observe(obs, *counters)
    if args.snapshot_output:
        # atomic snapshot commit: the verdicts become snapshot N+1 of
        # an Iceberg-style table; concurrent pinned readers of N are
        # untouched (the counters ride the commit's write action)
        from fingerprint_spark.snapshots import commit_snapshot

        manifest = commit_snapshot(out, args.snapshot_output, mode=args.snapshot_mode)
        print(json.dumps({"metric": "curate", **obs.get,
                          "output": args.snapshot_output,
                          "snapshot_id": manifest["snapshot_id"],
                          "parent_id": manifest["parent_id"]}))
        return 0
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"metric": "curate", **obs.get,
                      "output": args.output}))
    return 0


def _train_classifier_mode(args: argparse.Namespace) -> int:
    """`train-classifier <labeled.parquet> --output MODEL.json
    [--dim N] [--epochs N] [--lr F] [--text-col text]
    [--label-col label] [--hasher xxhash|md5]` — train the
    hashed-feature logreg on a labeled parquet (text + 0/1 label) and
    write the model file the curate --classifier stage consumes,
    closing the deployed train->score loop. Prints one JSON line with
    the training-set accuracy at threshold 0.5 (observe-free: one
    scoring pass over the labeled set, which is small by contract)."""
    from pyspark.sql import functions as F  # noqa: N812

    spark = _session()
    from fingerprint_spark.operators.quality_classifier import (
        quality_score_arrow,
        train_quality_logreg,
    )

    text_col, label_col, hasher = args.text_col, args.label_col, args.hasher
    df = _read_parquet(spark, args.labeled, text_col, label_col)
    try:
        model = train_quality_logreg(
            df, text_col=text_col, label_col=label_col,
            dim=args.dim, epochs=args.epochs, lr=args.lr, hasher=hasher,
        )
    except ValueError as e:
        raise Refused("E_BAD_INPUT", f"error: {e}") from None
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
    with open(args.output, "w") as fh:
        json.dump(model, fh, sort_keys=True)
    print(json.dumps({
        "metric": "train_classifier", "output": args.output,
        "n_labeled": acc_row["n"], "dim": model["dim"],
        "hasher": hasher, "n_weights": len(model["weights"]),
        "train_accuracy": round(float(acc_row["acc"]), 4),
    }))
    return 0


def _train_lm_mode(args: argparse.Namespace) -> int:
    """`train-lm <corpus.parquet> --output MODEL.json [--order N]
    [--min-count N] [--max-grams N] [--text-col text]` — train the
    char n-gram perplexity model DISTRIBUTED (one explode + one
    groupBy; the shuffle carries (gram, count) pairs, only the model
    reaches the driver — the driver-side trainer would collect every
    training text) and write the JSON model the curate --ppl-model
    stage consumes."""
    spark = _session()
    from fingerprint_spark.functions.perplexity import (
        model_to_json,
        train_char_ngram_df,
    )

    from pyspark.errors import AnalysisException

    df = _read_parquet(spark, args.corpus, args.text_col)
    try:
        model = train_char_ngram_df(
            df, args.text_col, order=args.order, min_count=args.min_count,
            max_grams=args.max_grams,
        )
    except (ValueError, AnalysisException) as e:
        raise Refused("E_BAD_INPUT", f"error: train-lm: {e}") from None
    with open(args.output, "w") as fh:
        fh.write(model_to_json(model))
    print(json.dumps({
        "metric": "train_lm", "output": args.output,
        "order": model.order, "n_grams": len(model.logp),
    }))
    return 0


def _load_langid_model_file(path: str) -> tuple[dict, str]:
    """Load + validate a train-langid MODEL.json; returns (model,
    content-digest). ONE loader for the run and curate surfaces so
    validation/exception behavior cannot diverge; a file that does not
    load is refused."""
    import hashlib

    from fingerprint_spark.operators.langid_classifier import (
        langid_model_from_json,
    )

    try:
        with open(path) as fh:
            raw = fh.read()
        model = langid_model_from_json(raw)
    except (OSError, ValueError) as e:
        raise Refused("E_BAD_INPUT", f"error: --langid-model: {e}") from None
    return model, hashlib.md5(raw.encode()).hexdigest()[:12]


def _train_langid_mode(args: argparse.Namespace) -> int:
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
    from pyspark.sql import functions as F  # noqa: N812

    spark = _session()
    from fingerprint_spark.operators.langid_classifier import (
        langid_classify_arrow,
        langid_model_to_json,
        train_langid_softmax,
    )

    from pyspark.errors import AnalysisException

    text_col, label_col, hasher = args.text_col, args.label_col, args.hasher
    df = _read_parquet(spark, args.labeled, text_col, label_col)
    try:
        model = train_langid_softmax(
            df, text_col=text_col, label_col=label_col,
            dim=args.dim, n=args.ngram, epochs=args.epochs, lr=args.lr,
            hasher=hasher, grad_round_dp=6,
        )
    except (ValueError, AnalysisException) as e:
        raise Refused("E_BAD_INPUT", f"error: {e}") from None
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
    with open(args.output, "w") as fh:
        fh.write(langid_model_to_json(model))
    print(json.dumps({
        "metric": "train_langid", "output": args.output,
        "n_labeled": acc_row["n"], "dim": model["dim"],
        "ngram": model["ngram"], "hasher": hasher,
        "classes": model["classes"],
        "n_weights": len(model["weights"]),
        "train_accuracy": round(float(acc_row["acc"]), 4),
    }))
    return 0


def _frontier_mode(args: argparse.Namespace) -> int:
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
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: N812

    spark = _session()
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

    table, key_col = args.filter_table, args.key_col
    try:
        if args.build:
            corpus = _read_parquet(spark, args.build, key_col)
            filt = bloom_build(corpus, key_col, args.n_bits, args.k)
            manifest = commit_snapshot(filt, table, mode="overwrite")
            print(json.dumps({
                "metric": "frontier_build", "filter_table": table,
                "snapshot_id": manifest["snapshot_id"],
                "n_bits": args.n_bits, "k": args.k,
                "filter_rows": manifest["n_rows"],
            }))
            return 0
        if args.merge:
            manifest_in = load_manifest(table)
            filt = read_snapshot(spark, table, manifest_in["snapshot_id"])
            n_bits, k = _marker_params(filt)
            witness_read(table, manifest_in, tool="frontier-merge")
            delta = _read_parquet(spark, args.merge, key_col)
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
        incoming = _read_parquet(spark, args.probe, key_col)
        tagged = bloom_probe(incoming, filt, key_col, n_bits, k)
        obs = Observation("frontier")
        tagged = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("incoming"),
            F.sum("maybe_member").alias("maybe_seen"),
        )
        new = tagged.filter(F.col("maybe_member") == 0).drop("maybe_member")
        new.write.mode("overwrite").parquet(args.output)
        got = obs.get
        # an empty incoming crawl observes sum() = NULL, not 0
        seen = int(got["maybe_seen"] or 0)
        print(json.dumps({
            "metric": "frontier_probe", "filter_table": table,
            "snapshot_id": manifest_in["snapshot_id"],
            "incoming": int(got["incoming"]), "maybe_seen": seen,
            "new": int(got["incoming"]) - seen,
            "output": args.output,
        }))
        return 0
    except SnapshotConflict as e:
        raise Refused("E_BAD_INPUT", f"error: frontier: concurrent commit — {e}") from None
    except (ValueError, FileNotFoundError, AnalysisException) as e:
        raise Refused("E_BAD_INPUT", f"error: frontier: {e}") from None


def _run_mode(args: argparse.Namespace) -> int:
    """The checkpointed quality-filter run, the default mode. Every
    refusal that needs no JVM comes before the session: the rules load
    and validate (Python ``re`` judging their regexes), the langid model
    loads, and the lineage manifest is checked. With the session up the
    rules load again, so java.util.regex judges each pattern."""
    from fingerprint_spark.checkpoint import CheckpointedRun

    _load_rules(args.rules_dir, args.fp)
    langid_model = langid_digest = None
    if args.langid_model:
        langid_model, langid_digest = _load_langid_model_file(args.langid_model)
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
        raise Refused("E_BAD_INPUT", f"refusing: {e}") from None
    if not args.resume and committed:
        raise Refused("E_BAD_INPUT", "output has committed buckets; pass --resume "
                      "to continue or choose a fresh --output")

    spark = _session()
    from fingerprint_spark.pipeline import quality_filter, revalidate
    from fingerprint_spark.sources.corpus_io import read_corpus
    from fingerprint_spark.witness import append_witness

    rules = _load_rules(args.rules_dir, args.fp)
    if args.revalidate:
        df = spark.read.parquet(args.input)
        if "parsed" not in df.columns:
            raise Refused("E_BAD_INPUT", "--revalidate needs an input produced with "
                          "--keep-parsed (no 'parsed' column found)")
    else:
        df = read_corpus(spark, args.input, day=args.day)

    def extract_cols(out):
        # the winner's extraction, present when the rules declare it
        names = ("extracted", "content_hash", "child_content_hash")
        return [c for c in names if c in out.columns]

    def stage(part):
        if args.revalidate:
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
            langid_threshold=args.langid_threshold,
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
            from pyspark.sql import functions as F  # noqa: N812

            from fingerprint_spark.operators.diagnose import diagnose_rule

            env = {"url": F.col("url"), "parsed": F.col("parsed")}
            diags = [diagnose_rule(r, env) for r in rules if r.parent is None]
            out = out.withColumn(
                "diagnosis",
                F.when(
                    ~F.col("fingerprint.matched"),
                    F.to_json(F.struct(*[
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


MODES = {
    "run": Mode(_run_mode, (
        Opt("--input", "str", ..., "day-partitioned parquet corpus"),
        Opt("--output", "str", ..., "checkpointed output directory"),
        Opt("--rules-dir", "str", None, "*.fp.yaml rule directory"),
        Opt("--day", "str", None, "partition-pruned single day"),
        Opt("--buckets", "count", 64, "checkpoint bucket count"),
        Opt("--resume", "flag", False, "skip committed buckets"),
        Opt("--params-version", "str", "v1", "rule/params version tag"),
        Opt("--diagnose", "flag", False,
            "full-evaluation diagnostics for template-unmatched docs "
            "(per-assertion results + nearest-heading / partial-match / "
            "out-of-range context) written as a diagnosis column"),
        Opt("--fp", "append", None,
            "select fingerprint rules by id, in order (repeatable); a child "
            "without its parent refuses with E_ORPHAN_CHILD"),
        Opt("--no-witness", "flag", False, "skip the witness ledger append"),
        Opt("--keep-parsed", "flag", False,
            "persist the parsed struct in the output for later --revalidate"),
        Opt("--revalidate", "flag", False,
            "input is a previous run's output carrying the parsed struct: "
            "apply the rule set as a pure expression pass, no html parse"),
        Opt("--langid-model", "str", None,
            "train-langid MODEL.json: the trained softmax replaces the "
            "marker-word language scorer"),
        Opt("--langid-threshold", "float", DEFAULT_LANGID_THRESHOLD,
            "trained-langid 'und' gate: softmax prob < P becomes 'und' and "
            "drops (default 0.5, the CCNet fastText gate)"),
    ), requires=(("--langid-threshold", "--langid-model"),),
        excludes=(("--langid-model", "--revalidate"),)),
    "curate": Mode(_curate_mode, (
        Opt("corpus", "str", ..., "corpus parquet, or a snapshot table dir"),
        Opt("--output", "str", None, "verdict parquet directory"),
        Opt("--chunk-words", "count", 12, "words per dedup chunk"),
        Opt("--max-docs", "count", None,
            "RefinedWeb mode: drop chunks found in more than N docs everywhere"),
        Opt("--benchmark", "str", None, "benchmark parquet to decontaminate against"),
        Opt("--decontam-n", "count", 13, "decontamination n-gram size"),
        Opt("--text-col", "str", "text", "text column"),
        Opt("--key-col", "str", "url", "document key column"),
        Opt("--classifier", "str", None, "train-classifier MODEL.json quality gate"),
        Opt("--classifier-threshold", "float", 0.5, "classifier keep probability"),
        Opt("--langid-model", "str", None,
            "train-langid MODEL.json: the trained softmax replaces the "
            "marker-word scorer"),
        Opt("--langid-threshold", "float", DEFAULT_LANGID_THRESHOLD,
            "trained-langid 'und' gate probability"),
        Opt("--ppl-model", "str", None, "train-lm MODEL.json perplexity gate"),
        Opt("--ppl-threshold", "float", DEFAULT_PPL_THRESHOLD, "perplexity gate"),
        Opt("--shards", "count", None, "audited hash-sharded output + _MANIFEST"),
        Opt("--input-snapshot", "str", None, "pinned snapshot read: N or current"),
        Opt("--snapshot-output", "str", None, "atomic snapshot commit to TABLE_DIR"),
        Opt("--snapshot-mode", "str", "overwrite", "append or overwrite"),
        Opt("--justext", "flag", False, "DOM boilerplate strip; needs an html column"),
    ), requires=(("--shards", "--output"), ("--langid-threshold", "--langid-model"),
                 ("--ppl-threshold", "--ppl-model")),
        one_of=("--output", "--snapshot-output")),
    "frontier": Mode(_frontier_mode, (
        Opt("filter_table", "str", ..., "Bloom-filter snapshot table"),
        Opt("--build", "str", None, "build filter(1) from a corpus parquet"),
        Opt("--merge", "str", None, "fold a url delta parquet into the filter"),
        Opt("--probe", "str", None, "write an incoming crawl's definitely-new rows"),
        Opt("--output", "str", None, "--probe output directory"),
        Opt("--key-col", "str", "url", "url column"),
        Opt("--n-bits", "count", 1 << 24, "filter bits (--build only)"),
        Opt("--k", "count", 5, "hash functions (--build only)"),
    ), requires=(("--probe", "--output"),), one_of=("--build", "--merge", "--probe")),
    "train-classifier": Mode(_train_classifier_mode, (
        Opt("labeled", "str", ..., "labeled parquet: text + 0/1 label"),
        Opt("--output", "str", ..., "MODEL.json to write"),
        Opt("--dim", "count", 4096, "hashed feature dimension"),
        Opt("--epochs", "count", 8, "gradient-descent epochs"),
        Opt("--lr", "float", 2.0, "learning rate"),
        Opt("--text-col", "str", "text", "text column"),
        Opt("--label-col", "str", "label", "label column"),
        Opt("--hasher", "str", "xxhash", "xxhash or md5"),
    )),
    "train-lm": Mode(_train_lm_mode, (
        Opt("corpus", "str", ..., "training corpus parquet"),
        Opt("--output", "str", ..., "MODEL.json to write"),
        Opt("--order", "count", 3, "char n-gram order"),
        Opt("--min-count", "count", 1, "drop grams seen fewer times"),
        Opt("--max-grams", "count", None, "keep the N most frequent grams"),
        Opt("--text-col", "str", "text", "text column"),
    )),
    "train-langid": Mode(_train_langid_mode, (
        Opt("labeled", "str", ..., "labeled parquet: text + language label"),
        Opt("--output", "str", ..., "MODEL.json to write"),
        Opt("--dim", "count", 2048, "hashed feature dimension"),
        Opt("--ngram", "count", 3, "char n-gram size"),
        Opt("--epochs", "count", 8, "gradient-descent epochs"),
        Opt("--lr", "float", 2.0, "learning rate"),
        Opt("--text-col", "str", "text", "text column"),
        Opt("--label-col", "str", "lang", "label column"),
        Opt("--hasher", "str", "xxhash", "xxhash or md5"),
    )),
    "compile": Mode(_compile_mode, (
        Opt("rule", "str", None, "rule .fp.yaml file"),
        Opt("--check", "flag", False, "parse + validate only, no session"),
        Opt("--schema", "flag", False, "print the rule JSON Schema"),
    ), one_of=("rule", "--schema")),
    "witness": Mode(_witness_mode, (
        Opt("action", "str", ..., "query, last or count",
            choices=("query", "last", "count")),
        Opt("--tool", "str", None, "records of this tool"),
        Opt("--outcome", "str", None, "records with this outcome"),
        Opt("--since", "str", None, "records at or after this timestamp"),
        Opt("--until", "str", None, "records at or before this timestamp"),
        Opt("--input-hash", "str", None, "records with this input hash"),
        Opt("--path", "str", None, "ledger file (default: the witness ledger)"),
        Opt("--json", "flag", False, "accepted for parity: output is JSON lines"),
    ), jvm=False),
    "infer": Mode(_infer_mode, (
        Opt("corpus", "str", ..., "corpus parquet"),
        Opt("--id", "str", ..., "fingerprint id of the inferred rule"),
        Opt("--min-confidence", "float", 0.8, "support a candidate needs"),
        Opt("--content-col", "str", "html", "html content column"),
    )),
}


def main(argv: list[str] | None = None) -> int:
    """Run one mode over ``argv`` (default ``sys.argv[1:]``) and return
    its exit code: 0 OK, 1 run's PARTIAL outcome, 2 a refusal."""
    argv = sys.argv[1:] if argv is None else argv
    name = argv[0] if argv and argv[0] in MODES.keys() - {"run"} else "run"
    try:
        if name == "run":
            rc = _display_surfaces(argv)
            if rc is not None:
                return rc
        return MODES[name].run(_parse(name, argv if name == "run" else argv[1:]))
    except Refused as e:
        return refuse(name, e.code, str(e))


if __name__ == "__main__":
    sys.exit(main())
