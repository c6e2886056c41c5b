"""The benchmark's workloads. Each is a closed loop with one client.

A workload generates its inputs and oracle in ``prepare`` (untimed),
then ``run_pass`` runs in the measured window. Every call into a layer of the package runs
inside a tracer span named ``<layer>.<call>``. The passes and
``verify`` record each correctness check through ``check``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

import gen
from harness import ROOT


def _timed(tracer, name: str, layer: str, fn):
    with tracer.span(name, layer) as rec:
        t0 = time.perf_counter()
        out = fn()
        rec["seconds"] = time.perf_counter() - t0
    return out, rec["seconds"]


def _bench(tracer):
    """A span for the benchmark's own work inside a pass (checks,
    clean-up): its jobs and wall time are left out of the pass."""
    return tracer.span("bench.check", "bench")


def _digest(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q * len(v))) - 1))]


class Workload:
    name = ""
    digest: str | None = None  # seed-independent result digest, if any

    def __init__(self, tmp: str, seed: int, tiny: bool = False):
        self.seed = seed
        self.tiny = tiny
        self.data = os.path.join(tmp, "data", self.name)
        os.makedirs(self.data, exist_ok=True)
        self.problems: list[str] = []
        self.attempted = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.problems.append(what)


# ---------------------------------------------------------------------------
# medallion: dbt run (gated full refresh) → dbt test → incremental run
# ---------------------------------------------------------------------------
class Medallion(Workload):
    name = "medallion"

    def prepare(self) -> None:
        size = dict(devices=8, days=1) if self.tiny else dict(devices=64, days=2)
        self.expected = gen.iot_seeds(os.path.join(self.data, "seeds"), self.seed, **size)
        self.input_desc = (
            f"{size['devices']} devices x {size['days']} days x 15 min x 4 metrics = "
            f"{self.expected['readings']} readings; increment {self.expected['increment_readings']} rows"
        )

    def run_pass(self, spark, tracer, i: int) -> dict:
        from dbt_datbricks_demo_spark.config import RunConfig
        from dbt_datbricks_demo_spark.plans.runner import PipelineRunner
        from dbt_datbricks_demo_spark.sources import load_seeds
        from dbt_datbricks_demo_spark.testing import reference_suite, run_suite

        # every pass starts from an empty warehouse, so every pass does
        # the same work (and launches the same jobs)
        wh = os.path.join(self.data, f"wh{i}")
        seeds = os.path.join(self.data, "seeds")
        # the clock advances between the runs: int_device_health's
        # watermark on _dbt_processed_at admits only rows stamped later
        t_full = dt.datetime(2025, 2, 1, 6, 0, 0)
        cfg = RunConfig(invocation_id=f"pb-{i}", frozen_now=t_full, full_refresh=True, warehouse_dir=wh)
        cfg_incr = cfg.with_overrides(
            invocation_id=f"pb-{i}-incr", frozen_now=t_full + dt.timedelta(days=1), full_refresh=False
        )
        calls = []
        raw, _ = _timed(tracer, "sources.load_seeds", "sources", lambda: load_seeds(spark, f"{seeds}/base"))
        (relations, gate), s = _timed(
            tracer, "plans.run_gated", "plans", lambda: PipelineRunner(spark, cfg).run_gated(raw)
        )
        calls.append(("run", s))
        results, s = _timed(
            tracer, "testing.run_suite", "testing", lambda: run_suite(reference_suite(), relations)
        )
        calls.append(("test", s))
        with _bench(tracer):
            self._check_counts(spark, wh, self.expected["full"], "full")
            self.check(all(r.passed for r in gate), f"silver gate failed: {[r.name for r in gate if not r.passed]}")
            self.check(
                len(results) == 54 and all(r.passed for r in results),
                f"tests: {sum(r.passed for r in results)}/{len(results)} passed",
            )
        raw_inc, _ = _timed(
            tracer, "sources.load_seeds", "sources", lambda: load_seeds(spark, f"{seeds}/increment")
        )
        _, s = _timed(
            tracer, "plans.run_incremental", "plans", lambda: PipelineRunner(spark, cfg_incr).run(raw_inc)
        )
        calls.append(("incr", s))
        with _bench(tracer):
            self._check_counts(spark, wh, self.expected["incremental"], "incremental")
            shutil.rmtree(wh)
        return {"wall": sum(s for _, s in calls), "calls": calls}

    def _check_counts(self, spark, wh: str, expected: dict, phase: str) -> None:
        from dbt_datbricks_demo_spark.plans.dag import MODELS

        for model, n in expected.items():
            m = MODELS[model]
            path = os.path.join(wh, f"iot_dev_{m.schema_suffix}", model)
            got = spark.read.parquet(path).count()
            self.check(got == n, f"{phase} {model}: {got} rows, expected {n}")

    def verify(self, spark) -> None:
        pass  # every pass checks its own counts and test results

    def report(self, passes: list[dict]) -> list[tuple]:
        def med(call):
            return statistics.median(sum(s for n, s in p["calls"] if n == call) for p in passes)

        return [
            ("run_s", med("run"), "s"),
            ("test_s", med("test"), "s"),
            ("incr_s", med("incr"), "s"),
        ]

    def layer_metrics(self, attr, pass_spans: list[dict], spans: list[dict], passes: list[dict]) -> dict:
        n = len(pass_spans)
        silver = gold = merge = write_b = 0.0
        test_jobs: list[float] = []
        n_test_jobs = 0
        for p in pass_spans:
            kids = [s for s in spans if s["parent"] == p["id"]]
            for k in kids:
                if k["layer"] == "bench":
                    continue
                jobs = attr.jobs_under({k["id"]})
                if k["name"] == "testing.run_suite":
                    n_test_jobs += len(jobs)
                    test_jobs.extend(attr.job_wall_s(j) for j in jobs)
                    continue
                for j in jobs:
                    path = attr.write_path(j) or ""
                    w = attr.job_wall_s(j)
                    if k["name"] == "plans.run_incremental":
                        if "_silver/" in path:
                            merge += w
                    elif "_silver/" in path:
                        silver += w
                    elif "_gold/" in path:
                        gold += w
                if k["name"] == "plans.run_incremental":
                    write_b += sum(s.get("output_b", 0) for s in attr.stages_of(jobs))
        return {
            "plans.silver_s": silver / n,
            "plans.gold_s": gold / n,
            "plans.merge_s": merge / n,
            "plans.write_mb": write_b / n / 2**20,
            "plans.write_amp": write_b / n / self.expected["increment_bytes"],
            "testing.jobs": n_test_jobs / n,
            "testing.test_p50_s": statistics.median(test_jobs) if test_jobs else 0.0,
        }


# ---------------------------------------------------------------------------
# adhoc_queries: registered queries, build → noop write, seeded order
# ---------------------------------------------------------------------------
# 20 of the 60 queries registered by inventory.py, relational_ext.py,
# subqueries.py and tpch_gaps.py, drawn by profile_mix.py from its
# profile of all 60 at sf0.005: sorted by latency, cut into 20 strata of
# three, the middle query of each. Mean latency 0.282 s and 5.15 jobs
# per query against 0.282 s and 5.10 for all 60 (see README.md). Plus
# the registry's corpus capstone, which runs
# operators.corpus.prepare_training_set (exact dedup, gates, MinHash
# near-dup removal, decontamination) under the same DuckDB oracle.
ADHOC_MIX = (
    "unpivot_part_attrs",
    "forecast_revenue_change",
    "stage_projection",
    "rollup_report",
    "except_inactive_customers",
    "intersect_buyers_with_events",
    "json_extract_agg",
    "brand_quantity_revenue",
    "corr_report",
    "idle_rich_customers",
    "small_quantity_part_revenue",
    "shipping_priority",
    "returned_item_revenue",
    "late_shipment_priority",
    "watermark_filter",
    "top_supplier_revenue",
    "pricing_summary",
    "set_ops_all_report",
    "nation_market_share",
    "fuzzy_match_report",
    "training_set_report",
)


class AdhocQueries(Workload):
    name = "adhoc_queries"

    def prepare(self) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import oracle_harness

        from dbt_datbricks_demo_spark.queries import QUERIES

        self.sf = 0.0005 if self.tiny else 0.005
        self.sf_dir = os.path.join(self.data, "sf")
        rows = gen.tpch_tables(self.sf_dir, self.seed, self.sf)
        rng = np.random.default_rng(self.seed)
        self.mix = [ADHOC_MIX[i] for i in rng.permutation(len(ADHOC_MIX))]
        self.specs = {n: QUERIES[n] for n in self.mix}
        con = oracle_harness.make_duckdb(self.sf_dir)
        self.oracle = {n: con.sql(self.specs[n].oracle).df() for n in self.mix}
        con.close()
        self.compare = oracle_harness.compare
        self.input_desc = f"sf{self.sf} ({rows['lineitem']} lineitem rows), {len(self.mix)} queries"
        self.results: dict[str, pd.DataFrame] = {}

    def run_pass(self, spark, tracer, i: int) -> dict:
        calls = []
        for q in self.mix:
            with tracer.span(f"queries.{q}", "queries"):
                df, build = _timed(tracer, "queries.build", "queries", lambda: self.specs[q].build(spark, self.sf_dir))
                self.results[q], exe = _timed(tracer, "queries.exec", "queries", df.toPandas)
            calls.append((q, build + exe))
        with _bench(tracer):
            for q in self.mix:
                problems = self.compare(q, self.results[q], self.oracle[q])
                self.check(not problems, f"{q}: {problems}")
        return {"wall": sum(s for _, s in calls), "calls": calls}

    def verify(self, spark) -> None:
        # the tables are seed-independent (only their row order varies),
        # so this digest must be the same for every seed
        self.digest = hashlib.sha256(
            "".join(_digest(self.results[q]) for q in ADHOC_MIX).encode()
        ).hexdigest()[:16]

    def report(self, passes: list[dict]) -> list[tuple]:
        lat = [s for p in passes for _, s in p["calls"]]
        return [
            ("mix_s", statistics.median(p["wall"] for p in passes), "s"),
            ("query_p50_s", statistics.median(lat), f"s (n={len(lat)})"),
            ("query_p90_s", _quantile(lat, 0.9), f"s (n={len(lat)})"),
        ]

    def layer_metrics(self, attr, pass_spans: list[dict], spans: list[dict], passes: list[dict]) -> dict:
        n = len(pass_spans)
        ids = attr.subtree({p["id"] for p in pass_spans})
        build = [s for s in spans if s["id"] in ids and s["name"] == "queries.build"]
        execs = [s for s in spans if s["id"] in ids and s["name"] == "queries.exec"]
        return {
            "queries.build_s": sum(s["seconds"] for s in build) / n,
            "queries.exec_s": sum(s["seconds"] for s in execs) / n,
            "queries.build_jobs": len(attr.jobs_under({s["id"] for s in build})) / n,
        }


# ---------------------------------------------------------------------------
# stream_ingest: JSONL micro-batches into the standing MinHash index
# ---------------------------------------------------------------------------
_STOP_RE = {
    lang: re.compile(r"\b(" + "|".join(words) + r")\b")
    for lang, words in gen._STOP.items()
}


def _gate_lang(text: str) -> str:
    """Argmax stopword language with ties to the earlier language, as
    the streaming language gate defines it; no stopword → unknown."""
    t = text.lower()
    scores = {lang: len(rx.findall(t)) for lang, rx in _STOP_RE.items()}
    best = max(scores.values())
    if best == 0:
        return "unknown"
    return next(lang for lang in ("en", "de", "es", "fr") if scores[lang] == best)


class StreamIngest(Workload):
    """Two micro-batches: the first builds the standing index, the
    second probes it, appends to it and compacts it (``compact_every=2``).
    Each batch costs ~12 s on a 4-core host in a fresh JVM, whatever
    its size, so two small batches are what the time budget allows."""

    name = "stream_ingest"

    def prepare(self) -> None:
        n_batches, batch = (2, 40) if self.tiny else (2, 100)
        self.stream_in, self.expected, self.in_bytes, n = self._write_stream(
            os.path.join(self.data, "in"), self.seed, n_batches, batch
        )
        self.items = n
        self.input_desc = f"{n_batches} JSONL micro-batches, {n} docs ({n - n_batches * batch} re-delivered)"

    def _write_stream(self, d: str, seed: int, n_batches: int, batch: int):
        """JSONL micro-batches with re-delivered documents (same text,
        new doc_id) inside a batch and across batches; returns the set of
        texts the ingest must admit."""
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng(seed)
        docs = gen.documents(seed, n_batches * batch, dup_frac=0.0, near_frac=0.0)
        next_id = 10_000_000
        seen: list[str] = []
        admitted: set[str] = set()
        total = 0
        for b in range(n_batches):
            rows = docs.iloc[b * batch:(b + 1) * batch][["doc_id", "text"]].to_dict("records")
            if seen:
                for t in rng.choice(seen, max(1, batch // 10)):
                    rows.append({"doc_id": next_id, "text": str(t)})
                    next_id += 1
            for r in rng.choice(len(rows), max(1, batch // 40)):
                rows.append({"doc_id": next_id, "text": rows[r]["text"]})
                next_id += 1
            order = rng.permutation(len(rows))
            with open(os.path.join(d, f"b{b:03d}.jsonl"), "w") as fh:
                for k in order:
                    fh.write(json.dumps(rows[k]) + "\n")
            for r in rows:
                t = r["text"]
                if len(t.split()) >= 5 and _gate_lang(t) != "unknown":
                    admitted.add(t)
            seen.extend(r["text"] for r in rows)
            total += len(rows)
        size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        return d, admitted, size, total

    def _ingest(self, spark, tracer, in_dir: str, out: str):
        from dbt_datbricks_demo_spark.streaming.corpus import (
            corpus_stream_cleaned,
            read_document_stream,
            write_corpus_index_ingest,
        )

        def ingest():
            stream = corpus_stream_cleaned(read_document_stream(spark, in_dir))
            q = (
                write_corpus_index_ingest(
                    stream, f"{out}/corpus", f"{out}/index", f"{out}/ckpt", compact_every=2
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        return _timed(tracer, "streaming.write_corpus_index_ingest", "streaming", ingest)

    def run_pass(self, spark, tracer, i: int) -> dict:
        out = os.path.join(self.data, f"out{i}")
        progress, s = self._ingest(spark, tracer, self.stream_in, out)
        batches = [
            (p.durationMs.get("triggerExecution", 0) / 1000.0, p.durationMs.get("addBatch", 0) / 1000.0)
            for p in progress
            if p.numInputRows > 0
        ]
        with _bench(tracer):
            corpus = spark.read.parquet(f"{out}/corpus").select("text").toPandas()["text"]
            self.check(
                len(corpus) == len(self.expected) and set(corpus) == self.expected,
                f"stream admitted {len(corpus)} docs ({corpus.nunique()} distinct), expected {len(self.expected)}",
            )
            self.check(len(batches) == len(os.listdir(self.stream_in)), f"stream ran {len(batches)} batches")
            files, size = _dir_bytes(f"{out}/index")
            _, corpus_size = _dir_bytes(f"{out}/corpus")
            shutil.rmtree(out, ignore_errors=True)
        return {
            "wall": s,
            "calls": [("ingest", s)],
            "batches": batches,
            "index": (files, size, size + corpus_size),
        }

    def verify(self, spark) -> None:
        pass  # every pass checks what it admitted

    def report(self, passes: list[dict]) -> list[tuple]:
        trig = [t for p in passes for t, _ in p["batches"]]
        ingest = statistics.median(p["wall"] for p in passes)
        return [
            ("ingest_s", ingest, "s"),
            ("batch_p50_s", statistics.median(trig), f"s (n={len(trig)})"),
            ("docs_per_s", self.items / ingest, "doc/s"),
        ]

    def layer_metrics(self, attr, pass_spans: list[dict], spans: list[dict], passes: list[dict]) -> dict:
        batches = [b for p in passes for b in p["batches"]]
        growth = statistics.median(p["batches"][-1][1] / p["batches"][0][1] for p in passes)
        files, size, written = passes[-1]["index"]
        return {
            "streaming.add_batch_p50_s": statistics.median(a for _, a in batches),
            "streaming.trigger_overhead_s": statistics.median(t - a for t, a in batches),
            "streaming.batch_growth": growth,
            "streaming.index_files": files,
            "streaming.index_mb": size / 2**20,
            "streaming.write_amp": written / self.in_bytes,
        }


WORKLOADS = {w.name: w for w in (Medallion, AdhocQueries, StreamIngest)}
