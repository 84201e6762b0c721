#!/usr/bin/env python3
"""Layered quality-filter benchmark.

    python3 qfbench/run.py --workload filter_html --seed 1 --seconds 8 --trace 0

Run from the repository root. It generates (or reloads) the seeded
corpus, starts a local[4] session, warms it up, runs the workload's unit
repeatedly (untimed for the workload's ``settle_s``, then timed for
``--seconds``, at least once), checks the outputs outside the timed
window and prints one JSON line last on stdout. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer metrics and writes ``qfbench/_work/traces/<workload>.json``.
The exit code is non-zero when an output check or a unit fails.
Progress and a readable summary go to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
TMP = os.path.join(WORK, "tmp")
CORES = 4
DRIVER_MEM = "2g"  # the engine defaults to 48g; this host has 15 GiB
DEFAULT_DOCS = 2000
WATCHDOG_S = 170


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def host_hygiene() -> None:
    """Keep every file the run writes inside the checkout and bound the
    driver heap; must run before pyspark starts the JVM."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP  # py-files zip, Python worker temp files
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM, which builds the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(TMP, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                    help="corpus size, a multiple of 100 (default %(default)s)")
    args = ap.parse_args(argv)
    if args.docs <= 0 or args.docs % 100:
        ap.error("--docs must be a positive multiple of 100")

    host_hygiene()
    sys.path.insert(1, ROOT)  # after this directory, which holds the benchmark modules
    try:
        import fingerprint_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        log(f"error: cannot import the engine from {ROOT}: {e}")
        return 2
    from fingerprint_spark.caching import release_tracked
    from fingerprint_spark.session import get_spark

    from harvest import RssSampler, Tracer
    from inputs import load_or_generate
    from workloads import WORKLOADS, Ctx

    spec = load_spec()
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    tracer = Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    with tracer.span("inputs.generate"):
        inputs = load_or_generate(WORK, args.seed, args.docs)
    log(f"[qfbench] inputs seed={args.seed} docs={args.docs} "
        f"{'cached' if inputs.cached else 'generated'} in {inputs.gen_s:.2f}s")

    spark = None
    with contextlib.ExitStack() as stack:
        rss = stack.enter_context(RssSampler()) if args.trace else None
        stack.callback(shutil.rmtree, run_dir, ignore_errors=True)
        stack.callback(lambda: spark is not None and stop_spark(spark))  # runs first
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.get_spark"):
                spark = get_spark("qfbench", cores=CORES, extra_conf=spark_conf())
            ctx = Ctx(spark, inputs, tracer, run_dir)
            wl = WORKLOADS[args.workload](ctx)
            with tracer.span("setup.warmup_run"):
                wl.warmup()
        setup_s = time.perf_counter() - t0

        # the JVM keeps compiling for several units after the warm-up
        # run; users of a long-lived session do not pay that per run
        with tracer.span("settle"):
            settle_end = time.perf_counter() + wl.settle_s
            while time.perf_counter() < settle_end:
                wl.unit()
                release_tracked(spark)

        samples, failed, attempted = [], 0, 0
        deadline = time.perf_counter() + args.seconds
        with tracer.span("window"):
            while True:
                try:
                    s = wl.unit()
                    samples.append(s)
                    attempted += s["ops"]
                except Exception:  # count it, keep measuring
                    log(traceback.format_exc())
                    attempted += 1
                    failed += 1
                release_tracked(spark)
                if time.perf_counter() >= deadline:
                    break
        if not samples:
            raise RuntimeError("every unit in the window failed")

        with tracer.span("check"):
            check = wl.check()
        for note in check.notes:
            log(f"[qfbench] note: {note}")
        if check.problems:
            log("[qfbench] CHECK FAILED: " + "; ".join(check.problems))
            failed = attempted

        wall = statistics.median(s["wall"] for s in samples)
        values = {
            "setup_s": setup_s,
            "docs_per_s": args.docs / wall,
            "wall_s": wall,
            "keep_f1": check.keep_f1,
            "text_exact_frac": check.text_exact_frac,
        }
        log(f"[qfbench] {args.workload}: {len(samples)} units in the window, "
            f"{attempted} ops attempted, {failed} failed; unit walls "
            f"{[round(s['wall'], 3) for s in samples]}, builds "
            f"{[round(s['build'], 3) for s in samples]}")
        for k, v in values.items():
            log(f"[qfbench]   {k} = {v:.6g} (n={len(samples)})")
        log(f"[qfbench]   build_s = {statistics.median(s['build'] for s in samples):.6g}"
            f" (n={len(samples)})")

        if args.trace:
            layers, raw = wl.trace(samples)
            problems = raw.pop("problems")
            if problems:
                log("[qfbench] TRACED CHECK FAILED: " + "; ".join(problems))
                failed = attempted
            values = {name: 0.0 for name in units}  # bypassed layers read 0
            values.update(layers)
            values["session.peak_rss_mb"] = rss.peak_mb
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{args.workload}.json"), "w") as f:
                json.dump({
                    "workload": args.workload, "seed": args.seed,
                    "docs": args.docs, "inputs_gen_s": inputs.gen_s,
                    "setup_s": setup_s,
                    "window": samples, "per_layer": values,
                    "self_time_s": tracer.self_times(),
                    "spans": tracer.spans, **raw,
                }, f, indent=1, default=str)
            for k in sorted(values):
                log(f"[qfbench]   {k} = {values[k]:.6g}")

    if set(values) != set(units):
        log(f"error: metrics {sorted(set(values) ^ set(units))} do not match BENCHMARK.json")
        return 2
    ok = failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }))
    return 0 if ok else 1


def _watchdog(_sig, _frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S}s")


if __name__ == "__main__":
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    sys.exit(main())
