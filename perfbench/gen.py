"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical parquet/JSON. Nothing generated is kept in the repository;
`run.py` writes into a scratch directory inside the checkout and clears it
before each run.

* `write_lake`     - the catalog's ten lake tables (region ... embeddings),
                     with the column names, types and value domains of the
                     synthetic test lake (TESTDATA.md), at a chosen scale
                     factor.
* `write_raw_trips`- FIXTURES section 1 `trips_yellow` records, one parquet
                     file per month, with the fixture's edge cases.
* `write_cdc_events` - Debezium-enveloped trip JSON (epoch-micros times,
                     ~1% null-`after` tombstones), several files in
                     event-time order, read by the file stream source.
* `sample_entries` - the stratified catalog sample for `adhoc_queries`.
"""

from __future__ import annotations

import inspect
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit scale factor, matching the test lake's proportions
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_lake(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten lake tables for scale factor `sf` into `out_dir`
    (`<table>.parquet`, one row group each); returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(r * sf)) for t, r in _ROWS_PER_SF.items()}
    n["embeddings"] = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
    })
    adj = np.array(["blue", "old", "small", "new", "hot", "large", "cold", "red"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    npart = n["part"]
    pk = np.arange(npart)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    no = n["orders"]
    days = 2404  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, days + 1, no) * _DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    rf_ls = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    pick = rf_ls[rng.integers(0, 6, nl)]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": pick[:, 0],
        "l_linestatus": pick[:, 1],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, max(2, ne * 3 // 200), ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)
        ],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    lengths = rng.integers(8, 91, nd)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # a few exact duplicates so the dedup stages have real groups
    for i in rng.choice(np.arange(1, nd), size=max(1, nd // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, nd, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _trip_columns(rng: np.random.Generator, n: int, start_us: int, span_us: int) -> dict:
    """FIXTURES section 1 value domains, shared by the raw files and the CDC
    wire events. Pickup times are sorted, so files cut in order are in
    event-time order."""
    pickup = start_us + np.sort(rng.integers(0, span_us, n))
    minutes = rng.integers(2, 90, n)
    fare = np.round(rng.uniform(2.5, 120.0, n), 2)
    tip = np.round(fare * rng.uniform(0, 0.3, n), 2)
    return {
        # {1,2} plus ~1% out-of-domain vendors (dim_vendor filters < 3)
        "VendorID": np.where(rng.random(n) < 0.01, 3, rng.integers(1, 3, n)),
        "pickup": pickup,
        "dropoff": pickup + minutes * 60_000_000,
        "passenger_count": rng.integers(1, 7, n).astype(np.float64),
        # mostly [0, 100]; ~0.1% > 100 for the staging quality rule
        "trip_distance": np.round(np.where(
            rng.random(n) < 0.001, rng.uniform(100.5, 400.0, n), rng.uniform(0.1, 45.0, n)
        ), 2),
        # {1..6} plus ~2% >= 7 (dim_rate_code filters < 7)
        "RatecodeID": np.where(
            rng.random(n) < 0.02, rng.integers(7, 9, n), rng.integers(1, 7, n)
        ).astype(np.float64),
        # 1..265 is the zone lookup; ~1% of ids past it
        "PULocationID": rng.integers(1, 268, n),
        "DOLocationID": rng.integers(1, 268, n),
        "payment_type": rng.integers(1, 7, n),
        "fare_amount": fare,
        "extra": np.round(rng.choice([0.0, 0.5, 1.0, 2.5], n), 2),
        "mta_tax": np.full(n, 0.5),
        "tip_amount": tip,
        "tolls_amount": np.where(rng.random(n) < 0.05, 6.55, 0.0),
        "improvement_surcharge": np.full(n, 0.3),
        "total_amount": np.round(fare + tip + 0.8, 2),
        "congestion_surcharge": np.where(rng.random(n) < 0.7, 2.5, 0.0),
    }


def write_raw_trips(out_dir: str, seed: int, rows: int, months: int = 3) -> list[str]:
    """FIXTURES section 1 `trips_yellow`, one parquet per month of 2024
    (`yellow_tripdata_2024-MM.parquet`), mixed-case column names, ~2% null
    passenger_count (dropped by normalize), out-of-domain vendor/rate codes,
    location ids past the lookup and a few trip distances over 100.
    Returns the file paths."""
    rng = np.random.default_rng([seed, 2])
    paths = []
    per = rows // months
    for m in range(months):
        start = np.datetime64(f"2024-{m + 1:02d}-01", "us").astype(np.int64)
        c = _trip_columns(rng, per, start, 28 * _DAY_US)
        pc = pa.array(c["passenger_count"], mask=rng.random(per) < 0.02)
        table = pa.table({
            "VendorID": pa.array(c["VendorID"], pa.int32()),
            "tpep_pickup_datetime": _ts(c["pickup"]),
            "tpep_dropoff_datetime": _ts(c["dropoff"]),
            "passenger_count": pc,
            "trip_distance": c["trip_distance"],
            "RatecodeID": c["RatecodeID"],
            "store_and_fwd_flag": np.where(rng.random(per) < 0.01, "Y", "N"),
            "PULocationID": pa.array(c["PULocationID"], pa.int32()),
            "DOLocationID": pa.array(c["DOLocationID"], pa.int32()),
            "payment_type": pa.array(c["payment_type"], pa.int32()),
            "fare_amount": c["fare_amount"],
            "extra": c["extra"],
            "mta_tax": c["mta_tax"],
            "tip_amount": c["tip_amount"],
            "tolls_amount": c["tolls_amount"],
            "improvement_surcharge": c["improvement_surcharge"],
            "total_amount": c["total_amount"],
            "congestion_surcharge": c["congestion_surcharge"],
            "Airport_fee": np.where(rng.random(per) < 0.1, 1.75, 0.0),
        })
        path = os.path.join(out_dir, f"yellow_tripdata_2024-{m + 1:02d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths


_WIRE_KEYS = {
    "vendorid": "VendorID",
    "tpep_pickup_datetime": "pickup",
    "tpep_dropoff_datetime": "dropoff",
    "passenger_count": "passenger_count",
    "trip_distance": "trip_distance",
    "ratecodeid": "RatecodeID",
    "pulocationid": "PULocationID",
    "dolocationid": "DOLocationID",
    "payment_type": "payment_type",
    "fare_amount": "fare_amount",
    "extra": "extra",
    "mta_tax": "mta_tax",
    "tip_amount": "tip_amount",
    "tolls_amount": "tolls_amount",
    "improvement_surcharge": "improvement_surcharge",
    "total_amount": "total_amount",
    "congestion_surcharge": "congestion_surcharge",
}


def write_cdc_events(out_dir: str, seed: int, events: int, files: int) -> dict[str, int]:
    """Debezium change events, one JSON message per line, `files` files
    named in event-time order. ~1% are tombstones (`"after": null`).
    Returns {"events": all lines, "rows": non-tombstone lines}."""
    rng = np.random.default_rng([seed, 3])
    c = _trip_columns(rng, events, _EPOCH_2024, 2 * _DAY_US)
    tomb = rng.random(events) < 0.01
    cols = {k: c[v].tolist() for k, v in _WIRE_KEYS.items()}
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, events, files + 1).astype(int)
    for f in range(files):
        lines = []
        for i in range(bounds[f], bounds[f + 1]):
            after = None if tomb[i] else {k: cols[k][i] for k in cols}
            lines.append(json.dumps({"payload": {"after": after}}))
        with open(os.path.join(out_dir, f"cdc-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {"events": events, "rows": int(events - tomb.sum())}


# builders that start a streaming query are the streaming family's
# business; the ad-hoc workload is the read-only, batch use of the catalog
_STREAMING = re.compile(
    r"run_stream|readStream|writeStream|processAllAvailable|stream_stream_interval_join"
)


# entries that ROADMAP direction 1 measured as costing several times more
# fully materialized than under `.count()` (a pandas UDAF, a sketch, a
# salted aggregate): a stratum of their own, so the sample always holds
# work that `.count()` prunes
PRUNED_BY_COUNT = ("approx_percentile_sketch", "salted_skew_aggregate", "udaf_pandas_mad")

# the other entries by catalog family, merged into strata of comparable
# weight: the size-split q_analyticsN modules with _base, TPC-H and
# sketches; text with dedup and ANN; graph; lakehouse with the batch
# entries of the streaming module
STRATA = {
    "analytics": ("q_analytics", "_base", "q_tpch", "q_sketch"),
    "text": ("q_text", "q_dedup", "q_ann"),
    "graph": ("q_graph",),
    "lakehouse": ("q_lakehouse", "q_streaming"),
}


def stratum(query) -> str:
    if query.name in PRUNED_BY_COUNT:
        return "pruned"
    mod = query.spark.__module__.rsplit(".", 1)[-1]
    return next(s for s, prefixes in STRATA.items() if mod.startswith(prefixes))


def sample_entries(registry: dict, per_stratum: dict[str, int], sample_seed: int) -> list[str]:
    """`per_stratum[s]` batch entries from each stratum, drawn with a fixed
    `sample_seed` so every run measures the same entries (the data seed
    varies the lake, not the sample). Sorted by stratum, then name."""
    rng = np.random.default_rng(sample_seed)
    members: dict[str, list[str]] = {}
    for name, q in sorted(registry.items()):
        if _STREAMING.search(inspect.getsource(q.spark)):
            continue
        members.setdefault(stratum(q), []).append(name)
    picked = []
    for s in sorted(members):
        names = members[s]
        k = min(per_stratum.get(s, 0), len(names))
        picked += sorted(names[i] for i in rng.choice(len(names), k, replace=False))
    return picked
