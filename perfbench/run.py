#!/usr/bin/env python3
"""Benchmark of the three user paths of pero-ocr-api-spark.

Run from the repository root:

    python3 perfbench/run.py --workload scan_batch --seed 1 --seconds 12 --trace 0

Workloads: scan_batch, checkpoint_resume, request_roundtrip (see
perfbench/README.md).  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the separate traced pass and prints the per-layer
metrics plus the tracing overhead.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
exit code is non-zero when any output differs from the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
TRACE_REQUESTS = 4


def tail(values: list[float]) -> tuple[float, int]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, as (value, percentile).  With fewer than 20 samples no
    such percentile exists and the maximum is reported as p100."""
    s = sorted(values)
    n = len(s)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(s, n=100, method="inclusive")[p - 1], p
    return s[-1], 100


def _env(work: str) -> None:
    """Spark's Python workers import pero_ocr_api_spark whatever the
    caller's cwd, and every scratch file stays under ``work``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def _spark(work: str, cores: int):
    from pero_ocr_api_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench", parallelism=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's scratch files (and its perf-data file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def setup(workload_cls, work: str, seed: int, cores: int):
    """SETUP_REPS set-ups, each a fresh Spark context, the generated and
    materialized inputs, and the shared warm-up; the first one also pays
    interpreter start and JVM launch.  Then the workload's priming
    operations, timed on their own.  Returns the live session, the
    workload, the set-up times, the ``get_spark`` times (the first one
    launches the JVM) and the priming time."""
    from perfbench.workloads import warm_pipeline

    spark = None
    setups, starts = [], []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = T_PROCESS if rep == 0 else time.perf_counter()
        t_start = time.perf_counter()
        spark = _spark(work, cores)
        starts.append(time.perf_counter() - t_start)
        w = workload_cls(os.path.join(work, f"rep{rep}"), seed, cores)
        os.makedirs(w.work, exist_ok=True)
        w.prepare(spark, 0)
        warm_pipeline(spark, w.work, seed)
        setups.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            w.release(0)
    t0 = time.perf_counter()
    w.warm_up(spark)
    return spark, w, setups, starts, time.perf_counter() - t0


def timed(spark, w, seconds: float) -> dict:
    ops, errors = [], []
    attempted = 0
    measured = 0.0
    i = 0
    while measured < seconds:
        if i > 0:  # input 0 was materialized during set-up
            w.prepare(spark, i)
        attempted += 1
        t0 = time.perf_counter()
        op = None
        try:
            op = w.run_op(spark, i)
            measured += op.latency_s
            bad = w.check(op)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            measured += time.perf_counter() - t0
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            errors.append((i, bad))
        elif op is not None:
            ops.append(op)
        if op is not None:
            w.cleanup(op)
        w.release(i)
        i += 1
    return {"ops": ops, "attempted": attempted, "errors": errors}


def end_to_end(res: dict, setups: list[float]) -> tuple[dict, list[str]]:
    ops = res["ops"]
    lat = [op.latency_s for op in ops]
    docs = sum(op.docs for op in ops)
    value, pct = tail(lat)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "docs_per_s": (docs / sum(lat), "docs/s"),
        "request_p50_s": (statistics.median(lat), "s"),
        "request_tail_s": (value, "s"),
        "output_bytes_per_doc": (sum(op.out_bytes for op in ops) / docs, "B/doc"),
    }
    notes = [
        f"setup_s: median of {len(setups)} set-ups {[round(s, 3) for s in setups]}",
        f"request_p50_s / request_tail_s: n={len(lat)} operations; tail is p{pct}; "
        f"latencies {[round(x, 3) for x in lat]}",
        f"docs_per_s: {docs} docs in {sum(lat):.3f} s of timed operations",
    ]
    phases = [op.phases for op in ops if op.phases]
    for k in sorted(phases[0]) if phases else []:
        vals = [p[k] for p in phases]
        notes.append(f"{k}: median {statistics.median(vals):.3f} s (n={len(vals)})")
    return metrics, notes


def traced(spark, w, work: str, starts: list[float]) -> tuple[dict, list, int, object]:
    """Untraced then traced run of the same operation (tracing
    overhead), then every layer measured on the workload's inputs."""
    from pero_ocr_api_spark.plans.ingest import explode_pages, pages_to_documents, parse_requests
    from perfbench import layers, workloads
    from perfbench.gen import request_payloads
    from perfbench.tracing import Tracer

    tr = Tracer(spark)
    errors, attempted = [], 0

    def checked(op, bad, tag):
        nonlocal attempted
        attempted += 1
        if bad:
            errors.append((tag, bad))
        return op

    n = TRACE_REQUESTS if w.name == "request_roundtrip" else 1
    # one discarded operation first, then an untraced and a traced run
    # of each input, so neither side of the overhead runs colder
    op = w.run_op(spark, 0)
    checked(op, w.check(op), 0)
    w.cleanup(op)
    plain, spans = [], []
    for i in range(n):
        op = w.run_op(spark, i)
        checked(op, w.check(op), i)
        plain.append(op.latency_s)
        w.cleanup(op)
        op = w.run_op(spark, i, tr.span)
        spans.append(checked(op, w.check(op), i))
    m = {"trace.overhead_s": sum(op.latency_s for op in spans) - sum(plain),
         "session.start_s": starts[0]}

    if w.name == "request_roundtrip":
        m.update(layers.request_layers(tr, spans))
        docs_path = os.path.join(work, "request-docs.parquet")
        raw = spark.createDataFrame(w.pool[:n], "request_id string, payload string")
        pages_to_documents(explode_pages(parse_requests(raw))).write.parquet(docs_path)
    else:
        docs_path = w.input_path(0)
    if w.name == "checkpoint_resume":
        m.update(layers.checkpoint_layers(tr, spans[0]))
    for op in spans:
        w.cleanup(op)

    m.update(layers.pipeline_layers(spark, tr, docs_path, w.engine_config,
                                    os.path.join(work, "layers-out")))
    if w.name != "checkpoint_resume":
        probe = workloads.checkpoint_cycle(
            spark, docs_path, os.path.join(work, "ckpt-probe"), tr.span)
        m.update(layers.checkpoint_layers(tr, probe))
    if w.name != "request_roundtrip":
        probes = [
            checked(op, workloads.check_request_op(op), "request probe")
            for op in (workloads.run_request(spark, rid, p, tr.span)
                       for rid, p in request_payloads(w.seed, "probe", 2))
        ]
        m.update(layers.request_layers(tr, probes))
    return {k: (v, layers.UNITS[k]) for k, v in m.items()}, errors, attempted, tr


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pero_ocr_api_spark")):
        print(f"perfbench: no pero_ocr_api_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyarrow
    import pyspark

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark, w, setups, starts, priming = setup(
            WORKLOADS[args.workload], work, args.seed, cores)
        print(f"# workload={args.workload} seed={args.seed} cores={cores} "
              f"master=local[{cores}] spark={pyspark.__version__} "
              f"pyarrow={pyarrow.__version__} seconds={args.seconds}")
        print(f"# priming operations after set-up: {priming:.3f} s")
        if args.trace:
            out, errors, attempted, tr = traced(spark, w, work, starts)
            tr.dump(os.path.join(work_root, "traces",
                                 f"{args.workload}-{args.seed}.json"))
        else:
            res = timed(spark, w, args.seconds)
            errors, attempted = res["errors"], res["attempted"]
            if not res["ops"]:
                raise RuntimeError("no operation succeeded")
            out, notes = end_to_end(res, setups)
            for line in notes:
                print(f"# {line}")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for i, bad in errors:
        print(f"# FAILED op {i}: {bad}", file=sys.stderr)
    for name, (value, unit) in out.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
