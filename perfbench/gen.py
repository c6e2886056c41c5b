"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size): the same seed gives
byte-identical inputs. Nothing here touches Spark; the generators also
return the counts the outputs must reproduce, so each workload's
correctness check needs no second engine run for the Medallion DAG.

- ``iot_seeds``: the three raw seed CSVs of the Medallion DAG plus a
  one-day increment (new readings, re-delivered reading_ids, new alerts).
- ``tpch_tables``: the ten TPC-H-ish parquet tables the query registry
  reads (same schemas and value domains as the project's testdata).
- ``documents``: a text corpus with planted exact and near duplicates,
  stopword-tagged languages and low-quality documents.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = ("temperature", "vibration", "humidity", "pressure")
# normal operating band per metric, all inside RunConfig's default
# thresholds (temperature 10..85, vibration ..9, humidity 15..90,
# pressure 950..1050)
_NORMAL = {
    "temperature": (60.0, 80.0),
    "vibration": (2.0, 8.0),
    "humidity": (25.0, 60.0),
    "pressure": (990.0, 1020.0),
}
# out-of-range band for the planted "hot" devices
_HOT = {"temperature": (86.0, 99.0), "vibration": (9.1, 11.0)}
_UPPER = {"temperature": 85.0, "vibration": 9.0, "humidity": 90.0, "pressure": 1050.0}
_LOWER = {"temperature": 10.0, "humidity": 15.0, "pressure": 950.0}

DEVICE_TYPES = (
    "compressor", "motor", "pump", "furnace", "assembly_robot",
    "conveyor", "welder", "cnc_machine", "boiler", "packaging",
)
PLANTS = ("Plant-Detroit", "Plant-Chicago", "Plant-Austin")
ZONES = ("Zone-A", "Zone-B", "Zone-C")
MANUFACTURERS = ("Siemens", "ABB", "Bosch", "Fanuc", "Honeywell", "Emerson", "Yokogawa")
ALERT_TYPES = ("threshold_breach", "data_quality", "equipment_fault")
SEVERITIES = ("info", "warning", "critical")

SEED_START = dt.datetime(2025, 1, 10)
CADENCE_MIN = 15  # one reading per device and metric every 15 minutes
REDELIVER_FRAC = 0.10  # re-delivered reading_ids, as a share of the increment
_TS = "%Y-%m-%d %H:%M:%S"


def _ids(prefix: str, first: int, n: int) -> pd.Series:
    return prefix + pd.Series(np.arange(first, first + n)).astype(str).str.zfill(9)


def _anomalous(metric: pd.Series, value: pd.Series) -> pd.Series:
    upper = metric.map(_UPPER)
    lower = metric.map(_LOWER)
    return value.notna() & ((value > upper) | (lower.notna() & (value < lower)))


def _readings(rng, devices, hot, start, days, first_id):
    """One reading per (device, metric, tick); returns a frame in CSV
    column order plus a normalized metric column for the oracle."""
    ticks = pd.date_range(start, periods=days * 24 * 60 // CADENCE_MIN, freq=f"{CADENCE_MIN}min")
    dev = np.repeat(devices, len(ticks) * len(METRICS))
    metric = np.tile(np.repeat(METRICS, len(ticks)), len(devices))
    ts = np.tile(ticks.values, len(devices) * len(METRICS))
    n = len(dev)
    lo = np.array([_NORMAL[m][0] for m in metric])
    hi = np.array([_NORMAL[m][1] for m in metric])
    is_hot = np.isin(dev, hot) & np.isin(metric, list(_HOT))
    lo[is_hot] = [_HOT[m][0] for m in metric[is_hot]]
    hi[is_hot] = [_HOT[m][1] for m in metric[is_hot]]
    value = np.round(rng.uniform(lo, hi), 1)
    # rare spikes on healthy devices (above upper thresholds)
    spike = rng.random(n) < 0.002
    value[spike] = np.round(value[spike] * 1.6, 1)
    value = pd.Series(value)
    value[rng.random(n) < 0.005] = np.nan  # planted NULL metric values
    ts = pd.Series(ts)
    ingested = ts + pd.to_timedelta(rng.integers(1, 60, n), unit="s")
    # a few raw metric names arrive with case/whitespace noise that
    # stg_sensor_readings normalizes
    raw_metric = pd.Series(metric)
    noisy = rng.random(n) < 0.01
    raw_metric[noisy] = " " + raw_metric[noisy].str.capitalize()
    return pd.DataFrame(
        {
            "reading_id": _ids("R", first_id, n),
            "device_id": dev,
            "metric_name": raw_metric,
            "metric_value": value,
            "reading_ts": ts,
            "ingested_at": ingested,
            "_metric": metric,
        }
    )


def _alerts(rng, devices, start, days, per_device_day, first_id, maintenance):
    n = int(len(devices) * days * per_device_day)
    dev = rng.choice(devices, n)
    ts = pd.Series(
        pd.Timestamp(start)
        + pd.to_timedelta(rng.integers(0, days * 86400, n), unit="s")
    )
    atype = rng.choice(ALERT_TYPES, n, p=[0.8, 0.1, 0.1])
    metric = pd.Series(rng.choice(METRICS, n))
    threshold = metric.map(_UPPER)
    actual = np.round(threshold * rng.uniform(1.0, 1.2, n), 1)
    resolved = pd.Series(ts + pd.to_timedelta(rng.integers(5, 600, n), unit="m"))
    resolved[rng.random(n) >= 0.25] = pd.NaT
    notes = pd.Series(np.where(resolved.notna(), "reset by operator", None))
    df = pd.DataFrame(
        {
            "alert_ts": ts,
            "device_id": dev,
            "alert_type": atype,
            "severity": rng.choice(SEVERITIES, n, p=[0.3, 0.5, 0.2]),
            "metric_name": metric,
            "threshold_value": threshold,
            "actual_value": actual,
            "resolved_at": resolved,
            "resolution_notes": notes,
        }
    )
    if maintenance:
        # maintenance_due rows carry no metric and (for one) no timestamp
        m = rng.choice(devices, maintenance)
        mdf = pd.DataFrame(
            {
                "alert_ts": [pd.NaT] + [pd.Timestamp(start)] * (maintenance - 1),
                "device_id": m,
                "alert_type": "maintenance_due",
                "severity": "info",
                "metric_name": None,
                "threshold_value": np.nan,
                "actual_value": np.nan,
                "resolved_at": pd.NaT,
                "resolution_notes": None,
            }
        )
        df = pd.concat([df, mdf], ignore_index=True)
    df.insert(0, "alert_id", _ids("ALT", first_id, len(df)))
    cols = [
        "alert_id", "device_id", "alert_type", "severity", "metric_name",
        "threshold_value", "actual_value", "alert_ts", "resolved_at", "resolution_notes",
    ]
    return df[cols]


def _write_csv(df: pd.DataFrame, path: str) -> None:
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime(_TS)
    out.to_csv(path, index=False, na_rep="")


def iot_seeds(out_dir: str, seed: int, devices: int, days: int) -> dict:
    """Write ``base/`` and ``increment/`` seed directories; return the
    per-model row counts each pass must produce."""
    rng = np.random.default_rng(seed)
    dev_ids = np.array([f"DEV{i:04d}" for i in range(devices)])
    hot = rng.choice(dev_ids, max(1, devices // 50), replace=False)
    devs = pd.DataFrame(
        {
            "device_id": dev_ids,
            "device_name": [f"Unit {i}" for i in range(devices)],
            "device_type": rng.choice(DEVICE_TYPES, devices),
            "location": rng.choice(PLANTS, devices),
            "zone": rng.choice(ZONES, devices),
            "install_date": pd.to_datetime("2021-01-01")
            + pd.to_timedelta(rng.integers(0, 4 * 365, devices), unit="D"),
            "manufacturer": rng.choice(MANUFACTURERS, devices),
            "firmware_version": [f"v{a}.{b}.{c}" for a, b, c in rng.integers(1, 9, (devices, 3))],
            "is_active": np.where(rng.random(devices) < 0.95, "true", "false"),
        }
    )
    devs["install_date"] = devs["install_date"].dt.strftime("%Y-%m-%d")

    base = _readings(rng, dev_ids, hot, SEED_START, days, 0)
    # content duplicate: same (device, metric, value, ts) as an earlier
    # reading, new reading_id, later ingest — key-based dedup keeps both
    dup = base.iloc[[len(base) // 3]].copy()
    dup["reading_id"] = _ids("R", len(base), 1).iloc[0]
    dup["ingested_at"] = dup["ingested_at"] + pd.Timedelta(minutes=5)
    base = pd.concat([base, dup], ignore_index=True)
    alerts = _alerts(rng, dev_ids, SEED_START, days, 2.0, 0, maintenance=3)

    inc_start = SEED_START + dt.timedelta(days=days)
    new = _readings(rng, dev_ids, hot, inc_start, 1, len(base))
    # re-delivered readings: same reading_id and reading_ts, new value,
    # ingested during the increment day (merge upsert replaces them)
    red = base.sample(n=int(REDELIVER_FRAC * len(new)), random_state=rng.integers(2**31))
    red = red.copy()
    red["metric_value"] = np.round(
        red["_metric"].map(lambda m: _NORMAL[m][0]).to_numpy()
        + rng.uniform(0, 5, len(red)),
        1,
    )
    red["ingested_at"] = pd.Series(
        pd.Timestamp(inc_start)
        + pd.to_timedelta(rng.integers(60, 86000, len(red)), unit="s"),
        index=red.index,
    )
    inc = pd.concat([new, red], ignore_index=True).sample(frac=1.0, random_state=seed)
    new_alerts = _alerts(rng, dev_ids, inc_start, 1, 2.0, len(alerts), maintenance=0)

    cols = ["reading_id", "device_id", "metric_name", "metric_value", "reading_ts", "ingested_at"]
    for sub, readings, al in (("base", base, alerts), ("increment", inc, new_alerts)):
        d = os.path.join(out_dir, sub)
        os.makedirs(d, exist_ok=True)
        _write_csv(readings[cols], os.path.join(d, "raw_sensor_readings.csv"))
        _write_csv(devs, os.path.join(d, "raw_devices.csv"))
        _write_csv(al, os.path.join(d, "raw_alerts.csv"))

    def counts(readings: pd.DataFrame, health_keys: set, n_alerts: int) -> dict:
        nonnull = readings[readings["metric_value"].notna()]
        keys = set(
            zip(nonnull["device_id"], nonnull["_metric"], nonnull["reading_ts"].dt.floor("h"))
        )
        health = len(health_keys | keys)
        return {
            "int_sensor_readings_cleaned": len(readings),
            "int_device_health": health,
            "int_alerts_enriched": n_alerts,
            "fct_hourly_metrics": health,
            "fct_device_summary": len(
                set(zip(readings["device_id"], readings["reading_ts"].dt.date))
            ),
            "fct_anomaly_events": int(_anomalous(readings["_metric"], readings["metric_value"]).sum()),
            "dim_devices": devices,
        }, health_keys | keys

    full, base_keys = counts(base, set(), len(alerts))
    final = pd.concat(
        [base[~base["reading_id"].isin(red["reading_id"])], red, new], ignore_index=True
    )
    touched = pd.concat([red, new], ignore_index=True)
    nonnull = touched[touched["metric_value"].notna()]
    touched_keys = set(
        zip(nonnull["device_id"], nonnull["_metric"], nonnull["reading_ts"].dt.floor("h"))
    )
    incr, _ = counts(final, base_keys | touched_keys, len(alerts) + len(new_alerts))
    return {
        "full": full,
        "incremental": incr,
        "readings": len(base),
        "increment_readings": len(inc),
        "increment_bytes": sum(
            os.path.getsize(os.path.join(out_dir, "increment", f))
            for f in os.listdir(os.path.join(out_dir, "increment"))
        ),
    }


# ---------------------------------------------------------------------------
# TPC-H-ish tables
# ---------------------------------------------------------------------------
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("small", "red", "large", "new", "blue", "hot", "old", "cold")
P_NOUN = ("ring", "widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span_days, n), unit="D")


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def tpch_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten tables at scale ``sf`` (lineitem ≈ 6M·sf rows);
    return their row counts. The rows are the same for every seed, as
    with a fixed warehouse; the seed only orders them, and query results
    must not depend on that order."""
    rng = np.random.default_rng(0)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    tables = {
        "region": (
            pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
            [("r_regionkey", i32), ("r_name", s)],
        ),
        "nation": (
            pd.DataFrame(
                {
                    "n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32),
                }
            ),
            [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        ),
        "customer": (
            pd.DataFrame(
                {
                    "c_custkey": np.arange(n_cust),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                    "c_mktsegment": rng.choice(SEGMENTS, n_cust),
                }
            ),
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)],
        ),
        "supplier": (
            pd.DataFrame(
                {
                    "s_suppkey": np.arange(n_supp),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
                }
            ),
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
        ),
    }
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    tables["part"] = (
        part,
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32), ("p_retailprice", f64)],
    )
    tables["orders"] = (
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)],
    )
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = (
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": partkey,
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * part["p_retailprice"].to_numpy()[partkey], 2),
                "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
                "l_returnflag": rng.choice(("A", "N", "R"), n_li),
                "l_linestatus": rng.choice(("O", "F"), n_li),
                "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
            }
        ),
        [
            ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
            ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
            ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts),
        ],
    )
    ev_ts = np.sort(
        pd.Timestamp("2024-01-01").value // 1000
        + rng.integers(0, 30 * 86400 * 10**6, n_ev)
    )
    tables["events"] = (
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev),
                "ts": pd.to_datetime(ev_ts, unit="us"),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": _money(rng, 0.01, 490.0, n_ev),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
            }
        ),
        [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64), ("props", s)],
    )
    n_emb = max(20, int(20_000 * sf))
    emb = rng.uniform(-0.35, 0.35, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = (
        pd.DataFrame(
            {
                "vec_id": np.arange(n_emb),
                "embedding": list(emb),
                "label": rng.integers(0, 10, n_emb).astype(np.int32),
            }
        ),
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
    )
    tables["documents"] = (documents(0, max(50, int(50_000 * sf))), DOC_SCHEMA)
    rows = {}
    for name, (df, schema) in tables.items():
        df = df.sample(frac=1.0, random_state=seed).reset_index(drop=True)
        _write_parquet(df, os.path.join(out_dir, f"{name}.parquet"), pa.schema(schema))
        rows[name] = len(df)
    return rows


# ---------------------------------------------------------------------------
# Text corpus
# ---------------------------------------------------------------------------
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query big stream order group "
    "filter vector a"
).split()
_STOP = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "que", "es", "una"),
    "fr": ("le", "la", "les", "est", "une"),
}
DOC_SCHEMA = [
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
]


def documents(seed: int, n: int, dup_frac: float = 0.02, near_frac: float = 0.03) -> pd.DataFrame:
    """``n`` documents, doc_id 0..n-1. Languages are planted through
    stopwords (en/de/es/fr, plus stopword-free 'zh'-tagged text that the
    language gate rejects); ~5% are too short for the quality gate;
    ``dup_frac`` are exact copies and ``near_frac`` one-word edits of an
    earlier document."""
    rng = np.random.default_rng(seed + 7)
    langs = rng.choice(("en", "de", "es", "fr", "zh"), n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    lengths = np.where(rng.random(n) < 0.05, rng.integers(3, 9, n), rng.integers(20, 90, n))
    texts = []
    for lang, ln in zip(langs, lengths):
        words = list(rng.choice(_VOCAB, ln))
        if lang in _STOP:
            stops = _STOP[lang]
            for p in rng.choice(ln, max(1, ln // 6), replace=False):
                words[p] = stops[rng.integers(len(stops))]
        texts.append(" ".join(words))
    n_dup, n_near = int(n * dup_frac), int(n * near_frac)
    targets = rng.choice(np.arange(n // 2, n), n_dup + n_near, replace=False)
    for j, t in enumerate(targets):
        src = int(rng.integers(0, n // 2))
        if j < n_dup:
            texts[t] = texts[src]
        else:
            words = texts[src].split(" ")
            words[int(rng.integers(len(words)))] = "edited"
            texts[t] = " ".join(words)
        langs[t] = langs[src]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        }
    )
