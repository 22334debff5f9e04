#!/usr/bin/env python3
"""Seeded synthetic TLC yellow-taxi trips with the 19 reference columns.

Usage: gen_taxi.py <out_dir> <rows> <files> <seed>

Every column is a pure hash of the row id, after `graft.Profile
taxi-year`: u(salt) is a uniform draw in [0, 1) from a splitmix64 hash
of the row id under a key that mixes the seed into the salt, so the
same seed gives byte-identical files and another seed gives other
values. The distributions follow taxi-year: short-trip-heavy distances
with about 1% exact zeros, rare zero durations, and NULLs in four
null-prone columns so that cleaning drops about 4% of the rows.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def splitmix(x):
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def generate(rows, seed, start=0):
    ids = np.arange(start, start + rows, dtype=np.uint64)

    def h(salt):
        key = splitmix(np.array([(seed * 1000003 + salt) % 2**64],
                                 dtype=np.uint64))[0]
        return splitmix(ids ^ key)

    def u(salt):
        return (h(salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    def money(x):
        return np.round(x, 2)

    def nulls(values, salt, rate, dtype):
        return pa.array(values, type=dtype, mask=u(salt) < rate)

    pickup_s = 1704067200 + (h(1) % np.uint64(31536000)).astype(np.int64)
    dist = np.where(u(98) < 0.01, 0.0, money(u(3) * u(3) * 20.0 + 0.3))
    dur_s = np.where(u(99) < 0.005, 0,
                     (u(2) * u(2) * 5340.0).astype(np.int64) + 60)
    fare = np.where(u(97) < 0.003, 0.0,
                    money(3.0 + 2.5 * dist + dur_s / 60.0 * 0.35 + u(9) * 2.0))
    p = u(8)
    payment = np.select([p < 0.55, p < 0.85, p < 0.90, p < 0.95],
                        [1, 2, 3, 4], 5).astype(np.int32)
    pu = (u(5) * u(5) * 265.0).astype(np.int32) + 1
    do = (u(6) * u(6) * 265.0).astype(np.int32) + 1
    tip = np.where(payment == 1, money(fare * u(10) * 0.3), 0.0)
    tolls = np.where(u(11) < 0.05, 6.55, 0.0)
    e = u(12)
    extra = np.where(e < 0.3, 1.0, np.where(e < 0.5, 0.5, 0.0))
    cong = np.where(pu < 100, 2.5, 0.0)
    cong_null = u(13) < 0.01
    airport = np.where(np.isin(pu, [132, 138]), 1.75, 0.0)
    airport_null = u(14) < 0.01
    total = money(fare + extra + 0.5 + tip + tolls + 1.0
                  + np.where(cong_null, 0.0, cong)
                  + np.where(airport_null, 0.0, airport))
    ts = pa.timestamp("us", tz="UTC")
    return pa.table({
        "VendorID": pa.array(np.where(u(0) < 0.55, 1, 2).astype(np.int32)),
        "tpep_pickup_datetime": pa.array(pickup_s * 1_000_000, type=ts),
        "tpep_dropoff_datetime": pa.array((pickup_s + dur_s) * 1_000_000, type=ts),
        "passenger_count": nulls((u(15) * 5.0).astype(np.int64) + 1, 4, 0.015,
                                 pa.int64()),
        "trip_distance": pa.array(dist),
        "RatecodeID": nulls(np.where(np.isin(pu, [132, 138]), 2, 1), 7, 0.015,
                            pa.int64()),
        "store_and_fwd_flag": pa.array(np.where(u(16) < 0.01, "Y", "N")),
        "PULocationID": pa.array(pu),
        "DOLocationID": pa.array(do),
        "payment_type": pa.array(payment),
        "fare_amount": pa.array(fare),
        "extra": pa.array(extra),
        "mta_tax": pa.array(np.full(rows, 0.5)),
        "tip_amount": pa.array(tip),
        "tolls_amount": pa.array(tolls),
        "improvement_surcharge": pa.array(np.full(rows, 1.0)),
        "total_amount": pa.array(total),
        "congestion_surcharge": pa.array(cong, mask=cong_null),
        "Airport_fee": pa.array(airport, mask=airport_null),
    })


def write(out_dir, rows, files, seed):
    """Writes `rows` rows as `files` parquet files; returns their bytes."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-rows // files)
    size = 0
    for i in range(files):
        n = min(per, rows - i * per)
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        # INT96, as Spark writes timestamps by default: Spark reads it as
        # TIMESTAMP and DuckDB as naive TIMESTAMP, the types
        # tools/check_taxi_year.py compares
        pq.write_table(generate(n, seed, i * per), path,
                       use_deprecated_int96_timestamps=True)
        size += os.path.getsize(path)
    return size


if __name__ == "__main__":
    out, rows, files, seed = sys.argv[1], *map(int, sys.argv[2:5])
    print(write(out, rows, files, seed))
