"""Seeded input generator for the benchmark.

Writes the ten sf-shaped tables the registered queries read
(`<dir>/<table>.parquet`, same column names and physical types as the
project's sf0.1 fixture) and the four source-shaped monthly trip files the
`curation_ingest` loop lands (`<dir>/trips/fhvhv_tripdata_<yyyy>-<mm>.parquet`).
Everything is a pure function of the seed and the scale factor: the same
seed gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE",
                     "HOUSEHOLD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_ADJ = np.array(["blue", "old", "small", "new", "red", "large", "hot",
                     "cold"])
PART_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate",
                      "rod", "anvil"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                       "MEDIUM"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])

# Monthly trip files: four calendar months spanning two years, so the raw
# zone has two year partitions and a year-pruned scan prunes one.
FIRST_MONTH = (2023, 11)
MONTHS = 4
# Share of each month's rows re-sent from the previous month (upstream
# late re-delivery); the warehouse guard must drop every one of them.
CROSS_MONTH_DUP_FRAC = 0.02


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _dims(out, rng, sf):
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = int(150000 * sf)
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)]})
    ns = int(10000 * sf)
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = int(200000 * sf)
    keys = np.arange(npart, dtype=np.int64)
    names = np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, npart)], " "),
                        PART_NOUN[rng.integers(0, 8, npart)])
    _write(f"{out}/part.parquet", {
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    return nc, ns, npart


def _facts(out, rng, sf, nc, ns, npart):
    no = int(1500000 * sf)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]})
    nl = int(6000000 * sf)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = int(1000000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), ne),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})


def _corpus(out, rng, sf):
    nd = int(50000 * sf)
    lens = rng.integers(10, 101, nd)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(words[at:at + n]))
        at += n
    # 5% planted near-duplicates: another document's text plus one token.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = int(20000 * sf)
    v = rng.standard_normal((nv, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * nv + 1, 64), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def month_list():
    y, m = FIRST_MONTH
    out = []
    for _ in range(MONTHS):
        out.append((y, m))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _trips(out, rng, sf):
    """Monthly files in the upstream trip schema: BIGINT location
    IDs under their upstream names and one extra column the warehouse
    projection drops. `dispatching_base_num` carries a globally unique trip
    number, so (dispatching_base_num, request_datetime) is a natural key."""
    os.makedirs(f"{out}/trips", exist_ok=True)
    per_month = int(125000 * sf)
    files, prev, trip_no = [], None, 0
    for y, m in month_list():
        lo = np.datetime64(f"{y:04d}-{m:02d}-01T00:00:00", "us")
        hi = np.datetime64(dt.date(y + (m == 12), m % 12 + 1, 1), "us")
        n = per_month
        ids = np.arange(trip_no, trip_no + n, dtype=np.int64)
        trip_no += n
        span = int((hi - lo).astype(np.int64)) // 60_000_000
        req = lo + (rng.integers(0, span - 300, n) * 60_000_000) \
            .astype("timedelta64[us]")
        wait = rng.integers(1, 15, n) * 60_000_000
        ride = rng.integers(3, 120, n) * 60_000_000
        on_scene = (req + wait.astype("timedelta64[us]")).astype(object)
        on_scene[rng.random(n) < 0.1] = None
        pickup = req + (wait + 60_000_000).astype("timedelta64[us]")
        fare = _money(rng, 5, 150, n)
        cols = {
            "hvfhs_license_num": np.char.add(
                "HV000", rng.integers(2, 6, n).astype(str)),
            "dispatching_base_num": np.char.add(
                "B", np.char.zfill(ids.astype(str), 9)),
            "request_datetime": req,
            "on_scene_datetime": pa.array(on_scene, pa.timestamp("us")),
            "pickup_datetime": pickup,
            "dropoff_datetime": pickup + ride.astype("timedelta64[us]"),
            "PULocationID": rng.integers(1, 266, n),
            "DOLocationID": rng.integers(1, 266, n),
            "sales_tax": np.round(fare * 0.08875, 2),
            "congestion_surcharge": np.where(rng.random(n) < 0.5, 2.75, 0.0),
            "airport_fee": np.where(rng.random(n) < 0.1, 2.5, 0.0),
            "tips": np.round(fare * rng.uniform(0, 0.25, n), 2),
            "driver_pay": np.round(fare * 0.7, 2),
            "extra_upstream_noise": np.array(["N", "Y"])[
                rng.integers(0, 2, n)]}
        table = pa.table(cols)
        if prev is not None:
            k = int(n * CROSS_MONTH_DUP_FRAC)
            table = pa.concat_tables(
                [table, prev.take(rng.choice(prev.num_rows, k, replace=False))])
        path = f"{out}/trips/fhvhv_tripdata_{y:04d}-{m:02d}.parquet"
        pq.write_table(table, path)
        files.append(path)
        prev = pa.table(cols)
    return files


def generate(out, seed, sf, with_trips=False):
    """Write all inputs for one seed under `out`; returns the trip files
    (empty unless `with_trips`)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    nc, ns, npart = _dims(out, rng, sf)
    _facts(out, rng, sf, nc, ns, npart)
    _corpus(out, rng, sf)
    return _trips(out, np.random.default_rng([seed, 1]), sf) \
        if with_trips else []
