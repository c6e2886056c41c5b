"""Profile every query the adhoc_queries mix is drawn from.

    python3 perfbench/profile_mix.py [--reps 3] [--strata 12]

Runs the 60 queries registered by ``queries/inventory.py``,
``relational_ext.py``, ``subqueries.py`` and ``tpch_gaps.py`` on the
benchmark's sf0.005 tables in one session, the way the benchmark runs
them (``build()`` then a noop write). Each query runs once untimed
(its result collected and checked against the DuckDB oracle), then
``--reps`` times timed. Prints, per query, the median latency, build
and exec time and the Spark jobs launched (in total and inside
``build()``), then the subset ``select()`` draws from that profile.

Selection rule: sort the queries by median latency, cut them into
``--strata`` strata of equal size, and take each stratum's median
query. The subset's latency and jobs per query follow those of all 60.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import harness

MODULES = ("inventory", "relational_ext", "subqueries", "tpch_gaps")


def select(profile: dict[str, dict], strata: int) -> list[str]:
    """The median query of each of ``strata`` equal latency strata."""
    ranked = sorted(profile, key=lambda q: (profile[q]["latency_s"], q))
    picked = []
    for k in range(strata):
        lo, hi = k * len(ranked) // strata, (k + 1) * len(ranked) // strata
        picked.append(ranked[(lo + hi - 1) // 2])
    return picked


def summary(profile: dict[str, dict], names: list[str]) -> str:
    lat = [profile[q]["latency_s"] for q in names]
    jobs = [profile[q]["jobs"] for q in names]
    build = sum(profile[q]["build_s"] for q in names) / sum(lat)
    return (
        f"{len(names)} queries: latency mean {statistics.mean(lat):.3f} s, "
        f"p50 {statistics.median(lat):.3f} s; jobs mean {statistics.mean(jobs):.2f}, "
        f"p50 {statistics.median(jobs):.1f}; build share {build:.2f}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--strata", type=int, default=12)
    ap.add_argument("--sf", type=float, default=0.005)
    args = ap.parse_args()
    tmp = harness.isolate()
    try:
        sys.path.insert(0, os.path.join(harness.ROOT, "tests"))
        import gen
        import oracle_harness

        from dbt_datbricks_demo_spark.queries import QUERIES

        names = [n for n, s in QUERIES.items() if s.build.__module__.rsplit(".", 1)[-1] in MODULES]
        sf_dir = os.path.join(tmp, "data", "sf")
        gen.tpch_tables(sf_dir, 0, args.sf)
        con = oracle_harness.make_duckdb(sf_dir)
        session = harness.Session(tmp)
        try:
            spark = session.start()
            tracer = harness.Tracer(spark)
            profile: dict[str, dict] = {}
            # one untimed pass over every query first, so the timed
            # passes find the JVM warm
            problems = {
                q: oracle_harness.compare(
                    q, QUERIES[q].build(spark, sf_dir).toPandas(), con.sql(QUERIES[q].oracle).df()
                )
                for q in names
            }
            for q in names:
                spec = QUERIES[q]
                reps = []
                for _ in range(args.reps):
                    with tracer.span(q, "queries") as call:
                        with tracer.span("build", "queries") as b:
                            t0 = time.perf_counter()
                            df = spec.build(spark, sf_dir)
                            t1 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    reps.append((t2 - t0, t1 - t0, t2 - t1, len(call["jobs"]), len(b["jobs"])))
                lat, build, exe, jobs, build_jobs = (statistics.median(r[i] for r in reps) for i in range(5))
                profile[q] = {
                    "latency_s": lat, "build_s": build, "exec_s": exe,
                    "jobs": jobs, "build_jobs": build_jobs, "oracle_ok": not problems[q],
                }
                print(f"{q:32s} {lat:7.3f} s  build {build:6.3f}  exec {exe:6.3f}  "
                      f"jobs {jobs:4.0f} ({build_jobs:.0f} in build)  {problems[q] or 'ok'}",
                      flush=True)
        finally:
            session.shutdown()
            con.close()
        picked = select(profile, args.strata)
        print("all      " + summary(profile, names))
        print("selected " + summary(profile, picked))
        print("selected: " + ", ".join(picked))
        out_dir = os.path.join(harness.ROOT, "perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "mix-profile.json"), "w") as fh:
            json.dump({"sf": args.sf, "reps": args.reps, "profile": profile, "selected": picked}, fh, indent=1)
    finally:
        harness.cleanup(tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
