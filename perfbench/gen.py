"""Seeded raw-input generator for the benchmark.

Writes `copies` stacked replicas of the 22,320-trip scaled-fixture pattern
(62 days, 2024-12-01..2025-01-31, x 6 zones x 4 hours x 3 services x 5
trips) as the three raw TLC parquet files plus the zones CSV. The calendar,
zone, hour and service grid is fixed, so the HAVING thresholds of analytics
q03, q11 and q14 populate at any seed. The seed is mixed into the pattern's
LCG noise term, which drives fares, distances, durations, tips, tolls and
the shared-ride flags. The program under test reads only these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PATTERN_TRIPS = 22320
EPOCH_2024_12_01 = 1733011200
ZONES = [(132, "Queens", "JFK Airport", "Airports"),
         (161, "Manhattan", "Midtown Center", "Yellow Zone"),
         (237, "Manhattan", "Upper West Side South", "Yellow Zone"),
         (236, "Manhattan", "Upper East Side South", "Yellow Zone"),
         (74, "Manhattan", "East Harlem North", "Boro Zone"),
         (7, "Queens", "Astoria", "Boro Zone")]


def seed_mix(seed):
    """The seed's offset into the LCG noise, in [0, 2^31)."""
    return (seed * 2654435761 + 40503) % 2147483648


def _pattern(copies, seed):
    i0 = np.arange(PATTERN_TRIPS * copies, dtype=np.int64)
    i, cpy = i0 % PATTERN_TRIPS, i0 // PATTERN_TRIPS
    day, z, h, s_idx, k = i // 360, (i // 60) % 6, (i // 15) % 4, (i // 5) % 3, i % 5
    r = (i0 * 1103515245 + 12345 + seed_mix(seed)) % 2147483648
    r1, r2, r3, r4 = r % 100, (r // 100) % 100, (r // 10000) % 100, (r // 1000000) % 100
    zone_ids = np.array([zone[0] for zone in ZONES], dtype=np.int64)
    hh = np.array([7, 10, 18, 22], dtype=np.int64)[h]
    sec = (day * 24 + z * 4 + h + cpy) % 60
    p = EPOCH_2024_12_01 + day * 86400 + hh * 3600 + (s_idx * 5 + k) * 60 + sec
    dur_min = 10 + r2 % 20
    base_cents = 1000 + r1 * 20 + r3 * 2
    return dict(
        s_idx=s_idx,
        zid=zone_ids[z], dzid=zone_ids[(z + 1 + k) % 6],
        p=p * 1_000_000, d=(p + dur_min * 60) * 1_000_000, dur_min=dur_min,
        dist=(150 + r3 % 350).astype(np.float64) / 100,
        fare=(np.where(s_idx == 0, 900, 800) + r1 * 25 + r2 * 3).astype(np.float64) / 100,
        tip=(r3 % 500).astype(np.float64) / 100,
        tolls=np.where(r4 % 10 == 0, 6.94, 0.0),
        af_y=np.where(z == 0, 1.75, 0.0),
        tips_h=(r3 % 400).astype(np.float64) / 100,
        bcf=(r1 % 120).astype(np.float64) / 100,
        tax=(r2 % 250).astype(np.float64) / 100,
        af_h=np.where(z == 0, 2.5, 0.0),
        lic=np.where(i % 2 == 0, "HV0003", "HV0005"),
        sreq=np.where(r2 % 5 == 0, "Y", "N"),
        smatch=np.where(r2 % 10 == 0, "Y", "N"),
        base_f=base_cents.astype(np.float64) / 100,
        dpay=(base_cents * 7).astype(np.float64) / 1000)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _const(v, n):
    return np.full(n, v, dtype=np.float64)


def _taxi(b, prefix, airport_fee):
    n = len(b["p"])
    total = b["fare"] + b["tip"] + b["tolls"] + 0.5 + 0.5 + 0.3 + 2.5
    cols = {
        f"{prefix}_pickup_datetime": _ts(b["p"]),
        f"{prefix}_dropoff_datetime": _ts(b["d"]),
        "trip_distance": b["dist"],
        "PULocationID": b["zid"].astype(np.int32),
        "DOLocationID": b["dzid"].astype(np.int32),
        "fare_amount": b["fare"],
        "extra": _const(0.5, n),
        "mta_tax": _const(0.5, n),
        "tip_amount": b["tip"],
        "tolls_amount": b["tolls"],
        "improvement_surcharge": _const(0.3, n),
        "total_amount": total + b["af_y"] if airport_fee else total,
        "congestion_surcharge": _const(2.5, n),
    }
    if airport_fee:
        cols["Airport_fee"] = b["af_y"]
    return pa.table(cols)


def _hvfhv(b):
    n = len(b["p"])
    return pa.table({
        "hvfhs_license_num": b["lic"],
        "pickup_datetime": _ts(b["p"]),
        "dropoff_datetime": _ts(b["d"]),
        "PULocationID": b["zid"],
        "DOLocationID": b["dzid"],
        "trip_miles": b["dist"],
        "trip_time": b["dur_min"] * 60,
        "base_passenger_fare": b["base_f"],
        "tolls": _const(0.0, n),
        "bcf": b["bcf"],
        "sales_tax": b["tax"],
        "congestion_surcharge": _const(2.75, n),
        "airport_fee": b["af_h"],
        "tips": b["tips_h"],
        "driver_pay": b["dpay"],
        "shared_request_flag": b["sreq"],
        "shared_match_flag": b["smatch"],
    })


def write(directory, seed, copies):
    """Write the inputs for `seed`; return their paths, trip count and bytes."""
    os.makedirs(directory, exist_ok=True)
    b = _pattern(copies, seed)
    svc = {s: {c: v[b["s_idx"] == s] for c, v in b.items()} for s in range(3)}
    files = {"yellow": os.path.join(directory, "yellow.parquet"),
             "green": os.path.join(directory, "green.parquet"),
             "hvfhv": os.path.join(directory, "hvfhv.parquet")}
    pq.write_table(_taxi(svc[0], "tpep", True), files["yellow"])
    pq.write_table(_taxi(svc[1], "lpep", False), files["green"])
    pq.write_table(_hvfhv(svc[2]), files["hvfhv"])
    files["zones"] = os.path.join(directory, "zones.csv")
    with open(files["zones"], "w") as fh:
        fh.write("LocationID,Borough,Zone,service_zone\n")
        fh.writelines(",".join(map(str, zone)) + "\n" for zone in ZONES)
    return files, PATTERN_TRIPS * copies, sum(os.path.getsize(f) for f in files.values())
