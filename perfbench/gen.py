"""Seeded input generator for the benchmark workloads.

Everything is synthesized from ``--seed`` alone (numpy ``default_rng``), so
the same seed gives byte-identical Parquet files. The tables follow the
schemas and value domains of the repository's fixture tables (FIXTURES.md):

* ``analytics``: the TPC-H-ish star schema plus ``events``, each fact table
  split into several Parquet files of uneven size (a multi-file re-layout,
  so scans get real splits).
* ``bridge_etl``: a Bridge Raw Data folder, ``raw/<app>/<study>/`` holding
  many small all-string Parquet exports with an ``annotations`` map, and a
  seeded share of malformed cells that the quarantine rules must catch.

Every written file is recorded in ``manifest.json`` (rows, bytes) under the
input root; the benchmark maps ``DataFrame.inputFiles()`` through it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes per workload (the same for every seed).
SCALES = {
    "analytics": {"orders": 20_000, "customer": 2_000, "supplier": 200, "part": 4_000, "events": 12_000, "users": 300},
    "bridge_etl": {"apps": 2, "studies_per_app": 4, "files": (3, 10), "rows": (40, 400)},
}

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


class Writer:
    """Writes Parquet files under ``root`` and keeps the manifest."""

    def __init__(self, root: str):
        self.root = root
        self.files: dict[str, dict] = {}

    def write(self, rel: str, table: pa.Table) -> None:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        self.files[rel] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}

    def write_split(self, name: str, table: pa.Table, n_files: int, rng) -> None:
        """``<name>.parquet/part-NNNNN.parquet``: ``n_files`` files of uneven size."""
        if n_files == 1:
            self.write(f"{name}.parquet/part-00000.parquet", table)
            return
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False))
        for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, table.num_rows])):
            self.write(f"{name}.parquet/part-{i:05d}.parquet", table.slice(lo, hi - lo))

    def save(self) -> dict:
        manifest = {"files": self.files}
        with open(os.path.join(self.root, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        return manifest


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, rng, n, span_us):
    return base + rng.integers(0, span_us, n).astype("timedelta64[us]")


def gen_analytics(w: Writer, rng, s: dict) -> None:
    n_o, n_c, n_s, n_p = s["orders"], s["customer"], s["supplier"], s["part"]
    w.write_split("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), 1, rng)
    w.write_split("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), 1, rng)
    w.write_split("customer", pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
    }), 2, rng)
    w.write_split("supplier", pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    }), 1, rng)
    adjs, nouns = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"], ["ring", "bolt", "nut", "gear", "pipe", "valve", "lever", "cog"]
    w.write_split("part", pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2),
    }), 1, rng)
    odate = _ts(EPOCH_1995, rng, n_o, 2404 * DAY_US).astype("datetime64[D]").astype("datetime64[us]")
    w.write_split("orders", pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000, 500_000, n_o),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    }), 4, rng)
    lines = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    lineno = (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + (rng.integers(1, 122, n_l) * DAY_US).astype("timedelta64[us]")
    perm = rng.permutation(n_l)
    w.write_split("lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": lineno,
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": ship,
    }).take(perm), 8, rng)
    n_e = s["events"]
    ts = np.sort(_ts(EPOCH_2024, rng, n_e, 30 * DAY_US))
    w.write_split("events", pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, s["users"], n_e),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": _money(rng, 0, 560, n_e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)],
    }), 4, rng)


#: Bridge export columns, all strings in the raw data (FIXTURES.md §B).
BRIDGE_DATE = ("exportedOn", "eventTimestamp", "uploadedOn", "scheduleModifiedOn", "startedOn")
BRIDGE_BOOL = ("timeWindowPersistent", "isFirstAssessment", "isLastAssessment", "schedulePublished")
BRIDGE_INT = ("sessionInstanceStartDay", "sessionInstanceEndDay", "assessmentRevision", "participantVersion")
ANNOTATION_KEYS = ("dataGroups", "taskIdentifier", "surveyGuid", "deviceInfo", "osName")
#: Share of rows with one planted malformed cell (a bad date, or an
#: oversized clientInfo blob); the quarantine rules route exactly these.
BAD_RATE = 0.03


def export_path(app: str, study: str, f: int) -> str:
    return f"raw/{app}/{study}/export-{f:03d}.parquet"


def record_id(study: str, f: int, i: int) -> str:
    """Unique id of row ``i`` of export ``f`` of ``study``."""
    return f"{study}-{f:03d}-{i:05d}"


def bridge_studies(s: dict) -> list[tuple[str, str]]:
    return [(f"app{a}", f"study{a}{k:02d}") for a in range(s["apps"]) for k in range(s["studies_per_app"])]


def gen_bridge(w: Writer, rng, s: dict) -> None:
    """Study sizes are a seeded shuffle of one fixed ladder (files per study,
    rows per file), so every seed ingests the same multiset of study sizes."""
    studies = bridge_studies(s)
    n_files = rng.permutation(np.linspace(*s["files"], len(studies)).round().astype(int))
    for (app, study), nf in zip(studies, n_files):
        for f, n in enumerate(rng.permutation(np.linspace(*s["rows"], nf).round().astype(int)).tolist()):
            cols: dict = {
                "recordId": [record_id(study, f, i) for i in range(n)],
                "app": [app] * n,
                "study": [study] * n,
                "healthCode": [f"hc{h:05d}" for h in rng.integers(0, 5000, n)],
                "name": [f"export-{f}.json"] * n,
                "etag": [f"{e:016x}" for e in rng.integers(0, 2**62, n)],
                "type": ["file"] * n,
                "clientInfo": [json.dumps({"appVersion": int(x), "osName": "iOS"}) for x in rng.integers(1, 40, n)],
                "appInfo": [json.dumps({"build": int(x)}) for x in rng.integers(100, 999, n)],
            }
            for c in BRIDGE_DATE:
                t = _ts(EPOCH_2024, rng, n, 300 * DAY_US).astype("datetime64[s]")
                cols[c] = [str(x).replace("T", " ") for x in t]
            for c in BRIDGE_BOOL:
                cols[c] = ["true" if b else "false" for b in rng.random(n) < 0.5]
            for c in BRIDGE_INT:
                cols[c] = [str(x) for x in rng.integers(0, 400, n)]
            bad = np.flatnonzero(rng.random(n) < BAD_RATE)
            for i in bad:
                if rng.random() < 0.5:
                    cols["exportedOn"][i] = "not-a-date"
                else:
                    cols["clientInfo"][i] = "x" * 600
            keys = [sorted(k for k in ANNOTATION_KEYS if rng.random() < 0.6) for _ in range(n)]
            cols["annotations"] = pa.array(
                [[(k, f"{k}-{rng.integers(0, 9)}") for k in ks] for ks in keys],
                pa.map_(pa.string(), pa.string()),
            )
            w.write(export_path(app, study, f), pa.table(cols))


GENERATORS = {"analytics": gen_analytics, "bridge_etl": gen_bridge}


def generate(root: str, workload: str, seed: int) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``root``."""
    w = Writer(root)
    GENERATORS[workload](w, np.random.default_rng(seed), SCALES[workload])
    return w.save()
