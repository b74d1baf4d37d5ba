"""End-to-end benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload docs_extract --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``), then the Spark session is
set up: started, plus one warm-up iteration over the workload's
warm-up input (``setup_s``). The timed region repeats the workload's
iteration over the whole input until ``--seconds`` have passed, and
reports the median iteration as ``docs_per_s``; the last iteration's
outputs are scored for correctness.

With ``--trace 1`` the timed region alternates untraced and traced
iterations instead, and the result line carries the per-layer metrics;
spans and per-layer numbers are also written to
``.perfbench_work/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "span_exact_match": "frac",
    "contract_match": "frac",
    "near_dup_recall": "frac",
    "delivered_frac": "frac",
    "out_bytes_per_in_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "rawbytes.busy_s": "s", "rawbytes.python_s": "s", "rawbytes.docs": "count",
    "rawbytes.bytes_in": "bytes", "rawbytes.spans_out": "count",
    "rawbytes.unparsed_frac": "frac",
    "pipeline.busy_s": "s", "pipeline.python_s": "s", "pipeline.spans": "count",
    "pipeline.shuffle_bytes": "bytes",
    "split.busy_s": "s", "split.groups": "count",
    "classify.busy_s": "s", "classify.unknown_frac": "frac",
    "extract.busy_s": "s", "extract.fields": "count",
    "textstats.c4_s": "s", "textstats.gopher_s": "s",
    "textstats.keep_frac": "frac", "pii.busy_s": "s",
    "dedup.exact_s": "s", "dedup.lsh_s": "s", "dedup.candidates": "count",
    "dedup.verify_s": "s", "dedup.pairs": "count", "dedup.verify_yield": "frac",
    "dedup.cc_s": "s", "dedup.lines_s": "s", "dedup.shuffle_bytes": "bytes",
    "packing.busy_s": "s", "packing.sequences": "count",
    "packing.fill_frac": "frac",
    "checkpoint.waves": "count", "checkpoint.wave_s_p50": "s",
    "checkpoint.wave_s_max": "s", "checkpoint.executions_per_wave": "count",
    "checkpoint.bytes_written": "bytes", "checkpoint.files_written": "count",
    "engine.executions": "count", "engine.python_s": "s",
    "engine.shuffle_bytes": "bytes", "engine.spill_bytes": "bytes",
    "engine.failed_tasks": "count", "engine.peak_rss_mb": "MB",
    "trace.traced_s": "s", "trace.untraced_s": "s", "trace.gap_s": "s",
    "trace.hidden_python_spans": "count",
}
# Span name -> per-layer metric taking the summed span duration.
SPAN_BUSY = {
    "rawbytes": "rawbytes.busy_s", "pipeline": "pipeline.busy_s",
    "split": "split.busy_s", "classify": "classify.busy_s",
    "extract": "extract.busy_s", "textstats.c4": "textstats.c4_s",
    "textstats.gopher": "textstats.gopher_s", "pii": "pii.busy_s",
    "dedup.exact": "dedup.exact_s", "dedup.lsh": "dedup.lsh_s",
    "dedup.verify": "dedup.verify_s", "dedup.cc": "dedup.cc_s",
    "dedup.lines": "dedup.lines_s", "packing": "packing.busy_s",
}
# Correctness floors: a run whose scores fall below these is not correct.
FLOORS = {"span_exact_match": 0.95, "contract_match": 0.95,
          "near_dup_recall": 0.9, "delivered_frac": 0.95}


def _launch_env(local: str, cpus: int) -> None:
    """Settings the session must see before it exists: repo on the
    Python workers' path, no console progress bar, and every Spark
    scratch directory inside the checkout."""
    tmp = os.path.join(local, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(local, 'warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def _start(master: str):
    from extractthinker_spark.session import get_spark

    return get_spark("perfbench", master=master)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def setup(wl, warm_src, runs: str, master: str):
    """Session start + one warm-up iteration over ``warm_src``.
    Returns the session with (start_s, warmup_s)."""
    t0 = time.perf_counter()
    spark = _start(master)
    t1 = time.perf_counter()
    wl.run(spark, warm_src, _fresh(os.path.join(runs, "warm")), master)
    parts = (t1 - t0, time.perf_counter() - t1)
    shutil.rmtree(os.path.join(runs, "warm"), ignore_errors=True)
    _log(f"setup: start {parts[0]:.2f} s, warm-up {parts[1]:.2f} s")
    return spark, parts


def layer_metrics(spans: list[dict], extra: dict) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    for s in spans:
        if s["name"] in SPAN_BUSY:
            out[SPAN_BUSY[s["name"]]] += s["dur_s"]
        if s["name"] in ("rawbytes", "pipeline"):
            out[f"{s['name']}.python_s"] += s["python_s"]
        if s["name"] == "pipeline":
            out["pipeline.shuffle_bytes"] += s["shuffle_bytes"]
        if s["name"].startswith("dedup."):
            out["dedup.shuffle_bytes"] += s["shuffle_bytes"]
        out["engine.executions"] += s["executions"]
        out["engine.python_s"] += s["python_s"]
        out["engine.shuffle_bytes"] += s["shuffle_bytes"]
        out["engine.spill_bytes"] += s["spill_bytes"]
        out["trace.hidden_python_spans"] += s["hidden_python"]
    out.update(extra)
    return out


def measure(spark, wl, args, src, inp, runs: str, master: str):
    """The timed region and the scoring. Returns (correct, attempted,
    failed, metrics, trace), or None when no iteration completed;
    ``trace`` holds the spans of the last traced iteration."""
    from perfbench.tracing import Tracer, failed_tasks
    from perfbench.workloads import dir_size

    attempted = failed = 0
    walls = []
    last_out = None
    t_start = time.perf_counter()
    while True:
        attempted += 1
        out = _fresh(os.path.join(runs, f"iter-{attempted}"))
        t0 = time.perf_counter()
        try:
            wl.run(spark, src, out, master)
        except Exception as exc:  # the run reports the failure, not a crash
            _log(f"iteration failed: {exc!r}")
            failed += 1
            break
        walls.append(time.perf_counter() - t0)
        _log(f"iteration {attempted}: {walls[-1]:.2f} s")
        if last_out:
            shutil.rmtree(last_out, ignore_errors=True)
        last_out = out
        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-s{args.seed}-{attempted}")
            tout = _fresh(os.path.join(runs, f"trace-{attempted}"))
            with tracer.span(args.workload):
                wl.traced(spark, tracer, src, tout, master)
            spans = tracer.finish()
            counts = wl.layer_counts(src, tout, spans)
            shutil.rmtree(tout, ignore_errors=True)
        if time.perf_counter() - t_start >= args.seconds:
            break
    if not walls:
        return None

    scores = wl.score(inp, last_out) if not failed else {
        k: 0.0 for k in FLOORS}
    correct = not failed and all(scores[k] >= v for k, v in FLOORS.items())
    if args.trace:
        root = spans[0]
        untraced = statistics.median(walls)
        metrics = layer_metrics(spans, counts)
        metrics.update({
            "engine.failed_tasks": failed_tasks(spark),
            "engine.peak_rss_mb": _jvm_peak_rss_mb(),
            "trace.traced_s": root["dur_s"],
            "trace.untraced_s": untraced,
            "trace.gap_s": root["dur_s"] - untraced,
        })
        return correct, attempted, failed, metrics, {
            "spans": spans, "untraced_walls_s": walls}
    metrics = {
        "docs_per_s": wl.n_docs / statistics.median(walls),
        "out_bytes_per_in_byte": dir_size(last_out)[0] / dir_size(src)[0],
        **scores,
    }
    return correct, attempted, failed, metrics, None


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS, dir_size

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for module in ("extractthinker_spark", "jobs"):
        if not os.path.isdir(os.path.join(ROOT, module)):
            print(f"perfbench: {module}/ not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    from perfbench import inputs

    wl = WORKLOADS[args.workload]
    cpus = min(3, len(os.sched_getaffinity(0)))
    master = f"local[{cpus}]"
    runs = os.path.join(WORK, "run")
    shutil.rmtree(runs, ignore_errors=True)
    _launch_env(os.path.join(runs, "spark-local"), cpus)

    t0 = time.perf_counter()
    inp = inputs.ensure(os.path.join(WORK, "inputs"), wl.kind, args.seed,
                        wl.n_docs)
    src, warm_src = wl.sources(inp)
    _log(f"inputs: {time.perf_counter() - t0:.2f} s, {dir_size(src)[0]} bytes")

    spark, parts = setup(wl, warm_src, runs, master)
    try:
        result = measure(spark, wl, args, src, inp, runs, master)
    finally:
        _stop(spark)
        shutil.rmtree(runs, ignore_errors=True)
    if result is None:
        return 1
    correct, attempted, failed, metrics, trace = result
    if args.trace:
        metrics["session.start_s"], metrics["session.warmup_s"] = parts
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces",
                               f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": metrics, **trace}, f, indent=1)
        units = PER_LAYER
    else:
        metrics["setup_s"] = sum(parts)
        units = END_TO_END
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    sys.exit(main())
