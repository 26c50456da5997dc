"""Benchmark entry point.

    python3 benchmark/run.py --workload ingest_stream --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout (any working directory works: paths
are resolved from this file).  Prints one JSON record with the host
stamp, input properties and per-pass detail, then, as the last line,
the result: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones declared in
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones.

Everything the run writes (generated inputs, references, Spark scratch
space, outputs) stays under ``.benchmark_work/`` in the checkout.
Exits non-zero without a result when the library is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".benchmark_work")
RUN_LIMIT_S = 180


def hermetic_env() -> None:
    """Environment every Spark process inherits: the library importable
    by Python workers, scratch space inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":")
                            if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def end_to_end(passes: list[dict], setup_s: float) -> tuple[dict, dict]:
    """End-to-end metrics of an untraced run, plus where the batch tail
    was read.  A micro-batch is one stream trigger that read input; a
    workload without a stream counts each pass as its one batch."""
    ok = [p for p in passes if p["ok"]] or passes
    batches = [b["trigger_s"] for p in ok for b in p.get("batches", [])] \
        or [p["seconds"] for p in ok]
    batch_tail, pct, n = harness.tail(batches)
    return {
        "setup_s": setup_s,
        "job_s": statistics.median(p["seconds"] for p in ok),
        "peak_rss_mb": max(p["rss_mb"] for p in passes),
        "batch_p50_s": statistics.median(batches),
        "batch_tail_s": batch_tail,
    }, {"percentile": pct, "samples": n}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = declared()
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    hermetic_env()
    import bertrand_spark  # noqa: F401  (fails fast outside a checkout)
    import gen
    from workloads import WORKLOADS, Composite

    started = harness.process_start_epoch()
    t_gen = time.perf_counter()
    data_root = os.path.join(WORK, "data")
    workload, warm = (Composite(args.workload, [
        cls(*gen.ensure(cls.name, scale, args.seed, data_root),
            os.path.join(WORK, "out", f"{cls.name}-{scale}"))
        for cls in WORKLOADS[args.workload]]) for scale in ("full", "tiny"))
    gen_s = time.perf_counter() - t_gen

    host = harness.host_stamp(ROOT, args.seed)
    t_session = time.perf_counter()
    session = harness.Session(WORK, host["cpus"])
    try:
        host["java"] = session.java_version()
        t_warm = time.perf_counter()
        warm_detail = warm.run_pass(session.spark, harness.Tracer(session.sc))
        if warm_detail["mismatches"]:
            raise RuntimeError(f"warm pass failed: {warm_detail['mismatches']}")
        session.release()
        setup_s = time.time() - started - gen_s
        setup_parts = {"session_s": round(t_warm - t_session, 3),
                       "warm_pass_s": round(time.perf_counter() - t_warm, 3)}
        # a run must end within RUN_LIMIT_S of its start; keep a margin
        # for reading the status API and stopping Spark
        deadline = time.perf_counter() + RUN_LIMIT_S - 30 \
            - (time.time() - started)
        result = harness.measure(session, workload, args.seconds,
                                 traced=bool(args.trace), deadline=deadline)
        passes = result["passes"]
        layers = harness.layer_metrics(result, session) if args.trace else None
    finally:
        session.stop()

    failed = [p for p in passes if not p["ok"]]
    record = {
        "host": host, "workload": args.workload, "trace": args.trace,
        "inputs": [{k: v for k, v in p.props.items() if not isinstance(v, list)}
                   for p in workload.parts],
        "generation_s": round(gen_s, 3), "setup_parts": setup_parts,
        "passes": [{k: p.get(k) for k in ("pass", "traced", "seconds", "ok",
                                          "persisted_rdds", "rss_mb")}
                   for p in passes],
        "mismatches": [m for p in passes for m in p.get("mismatches", [])][:20],
        "failed_share": len(failed) / len(passes),
    }
    if any(p.name == "crawl_extract" for p in workload.parts):
        docs = sum(p.get("docs", 0) for p in passes)
        record["docs_ok_share"] = (sum(p.get("docs_ok", 0) for p in passes)
                                   / docs if docs else 0.0)
    if args.trace:
        values, units = layers, spec["per_layer"]
        record["reconciled"] = (
            abs(layers["spark.reconcile_share"]) <= harness.RECONCILE_TOLERANCE
            and layers["spark.job_outside_span_share"]
            <= harness.JOB_OUTSIDE_TOLERANCE)
    else:
        values, record["batch_tail"] = end_to_end(passes, setup_s)
        units = spec["end_to_end"]
    if set(values) != set(units):
        raise KeyError(f"emitted metrics differ from BENCHMARK.json: "
                       f"{sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": not failed,
                      "attempted": len(passes), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
