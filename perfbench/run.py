"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Runs one workload (``medallion``, ``adhoc_queries`` or ``stream_ingest``)
in one process on ``local[<cores>]``:

1. generate the seeded inputs and the oracle (untimed);
2. set up: start the JVM and the SparkSession (``setup_s``);
3. run closed-loop passes for ``--seconds``, at least one, and report
   the median. The first pass runs in the fresh JVM, as a scheduled
   ``dbt run`` or a newly started stream does; with the benchmark's
   ``run_seconds`` of 1 it is the only one;
4. check every output and print one JSON line last.

With ``--trace 0`` the JSON carries the end-to-end metrics. With
``--trace 1`` the event log is on from the start and the JSON carries
the per-layer metrics of the same passes; the spans plus every metric go
to ``perfbench/out/trace-<workload>-<seed>.json``. Three more passes
then measure the event log's cost: with it off (jobs counted through
StatusTracker), on, and off again, each in a fresh SparkContext.

Exit status: 0 when every check passed, 1 when a check failed or a call
raised, 2 when the package to benchmark is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import harness
from workloads import WORKLOADS


def measure(w, spark, tracer, seconds: float) -> list[dict]:
    """Closed-loop passes until ``seconds`` have elapsed (at least one)."""
    passes = []
    end = time.perf_counter() + seconds
    while True:
        with tracer.span(f"{w.name}.pass", "pass") as rec:
            p = w.run_pass(spark, tracer, len(passes))
        p["span"] = rec
        passes.append(p)
        if time.perf_counter() >= end:
            return passes


def host_info() -> dict:
    import duckdb
    import pyspark

    return {
        "cores": harness.host_cores(),
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "host_mem_mb": harness.host_mem_mb(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
    }


def run(args, tmp: str) -> tuple[dict, int]:
    w = WORKLOADS[args.workload](tmp, args.seed, tiny=args.tiny)
    info = host_info()
    print(
        f"perfbench {w.name} seed={args.seed} seconds={args.seconds} trace={args.trace} | "
        + " ".join(f"{k}={v}" for k, v in info.items()),
        flush=True,
    )
    t = time.perf_counter()
    w.prepare()
    print(f"input: {w.input_desc} (generated with oracle in {time.perf_counter() - t:.1f} s)", flush=True)

    session = harness.Session(tmp)
    try:
        return _measure_and_report(args, w, info, session, tmp)
    finally:
        session.shutdown()


def _measure_and_report(args, w, info: dict, session, tmp: str) -> tuple[dict, int]:
    with harness.RssSampler() as rss:
        # with --trace 1 the event log is on from the start, so the
        # per-layer metrics describe the same cold passes as the
        # end-to-end ones
        session.event_log = bool(args.trace)
        t0 = time.perf_counter()
        spark = session.start()
        setup_s = time.perf_counter() - t0
        tracer = harness.Tracer(spark)
        passes = measure(w, spark, tracer, args.seconds)
        n_calls = sum(len(p["calls"]) for p in passes)
        if args.trace:
            app_id = spark.sparkContext.applicationId
            # the cost of the event log: three more passes with it off,
            # on, off, each in a fresh SparkContext of the now warm JVM;
            # the two off passes bracket the on pass, so the JVM still
            # warming up does not count as tracing overhead
            walls, jobs = {False: [], True: []}, {}
            for on in (False, True, False):
                session.stop()
                session.event_log = on
                spark = session.start()
                t = harness.Tracer(spark)
                extra = measure(w, spark, t, 0)
                walls[on].append(extra[0]["wall"])
                n_calls += len(extra[0]["calls"])
                jobs[on] = t.jobs_in([extra[0]["span"]])
        w.verify(spark)
        session.stop()

    attempted = n_calls + w.attempted
    failed = len(w.problems)
    for p in w.problems:
        print(f"CHECK FAILED: {p}", flush=True)
    if w.digest:
        print(f"result digest: {w.digest}", flush=True)

    pass_s = statistics.median(p["wall"] for p in passes)
    pass_jobs = [tracer.jobs_in([p["span"]]) for p in passes]
    print(
        f"setup: session {setup_s:.3f} s; {len(passes)} passes of {[round(p['wall'], 3) for p in passes]} s, "
        f"jobs per pass {pass_jobs} (StatusTracker)",
        flush=True,
    )
    for p in passes:
        print("  pass " + " ".join(f"{n}={s:.3f}" for n, s in p["calls"]), flush=True)
    # the workload's own metrics, by the names and units users know them
    lines = [("setup_s", setup_s, "s")] + w.report(passes)
    lines += [
        ("peak_rss_mb", rss.peak_mb, "MB"),
        ("error_rate", failed / attempted, "ratio"),
    ]
    for name, value, unit in lines:
        print(f"  {name:20s} {value:12.4f} {unit}", flush=True)

    if not args.trace:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
        }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, failed

    from eventlog import Attribution, eventlog_path

    attr = Attribution(eventlog_path(os.path.join(tmp, "events"), app_id), tracer.spans)
    pass_spans = [p["span"] for p in passes]
    layer = attr.spark_metrics(pass_spans, info["cores"])
    layer.update(
        {
            "session.start_s": setup_s,
            "session.peak_rss_mb": rss.peak_mb,
            "trace.overhead_s": walls[True][0] - statistics.mean(walls[False]),
            "trace.jobs_untraced": jobs[False],
        }
    )
    extra = w.layer_metrics(attr, pass_spans, tracer.spans, passes)
    units = {"_s": "s", "_mb": "MB", "ratio": "ratio", "amp": "ratio", "growth": "ratio"}

    def unit(name: str) -> str:
        return next((u for suf, u in units.items() if name.endswith(suf)), "count")

    for name, value in list(layer.items()) + list(extra.items()):
        print(f"  {name:30s} {value:12.4f} {unit(name)}", flush=True)
    print(
        f"jobs per pass: {pass_jobs} (StatusTracker) / {layer['spark.jobs']:.1f} (event log); "
        f"overhead passes: {jobs[False]} with the event log off, {jobs[True]} with it on (StatusTracker)",
        flush=True,
    )
    if len({*pass_jobs, layer["spark.jobs"]}) != 1 or jobs[False] != jobs[True]:
        print("note: the job counts disagree", flush=True)
    out_dir = os.path.join(harness.ROOT, "perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{w.name}-{args.seed}.json"), "w") as fh:
        json.dump(
            {
                "workload": w.name,
                "seed": args.seed,
                "host": info,
                "input": w.input_desc,
                "end_to_end": {k: v for k, v, _ in lines},
                "per_layer": {**layer, **extra},
                "jobs_per_pass": pass_jobs,
                "spans": [
                    {k: s.get(k) for k in ("id", "name", "layer", "parent", "start", "end", "jobs")}
                    for s in tracer.spans
                ],
            },
            fh,
            indent=1,
        )
    metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args()
    try:
        tmp = harness.isolate()
    except FileNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    try:
        result, failed = run(args, tmp)
    except Exception:  # noqa: BLE001 — a raising call fails the run
        traceback.print_exc()
        return 1
    finally:
        harness.cleanup(tmp)
    print(json.dumps(result), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
