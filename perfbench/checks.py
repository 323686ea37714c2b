"""Output checks that read the program's files directly, without Spark."""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

# Columns whose values depend on when a run happened, not on its input.
VOLATILE = {"loaded_at", "load_duration_seconds"}


def tables(warehouse):
    """Every table of a warehouse: its top-level dirs and analytics/<query>."""
    def kids(d):
        return sorted(e.name for e in os.scandir(d)
                      if e.is_dir() and not e.name.startswith((".", "_")))
    out = []
    for name in kids(warehouse):
        if name == "analytics":
            out += [f"analytics/{q}" for q in kids(os.path.join(warehouse, name))]
        else:
            out.append(name)
    return out


def read(path):
    """A parquet table dir as a DataFrame, hive partition columns included;
    None when it holds no rows."""
    files = [f for _, _, names in os.walk(path) for f in names if f.endswith(".parquet")]
    if not files:
        return None
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   exclude_invalid_files=True).to_table()
    t = t.select([c for c in t.column_names if c not in VOLATILE])
    t = t.cast(pa.schema([pa.field(f.name, f.type.value_type)
                          if pa.types.is_dictionary(f.type) else f for f in t.schema]))
    return t.to_pandas()


def table_digest(path):
    """Order-independent digest: row count and the sum of per-row hashes,
    with doubles rounded to 4 digits (summation order moves the last bits)."""
    df = read(path)
    if df is None or len(df) == 0:
        return "empty"
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == np.float64:
            df[c] = np.round(df[c] + 1e-9, 4)
    h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return f"{len(df)}:{int(h.to_numpy().sum(dtype=np.uint64))}"


def warehouse_digest(warehouse):
    return [f"{t}={table_digest(os.path.join(warehouse, t))}" for t in tables(warehouse)]


def distinct_raw_trips(files):
    """Distinct trip keys in the raw files, from the raw columns the fact's
    trip_id is derived from."""
    def n(path, not_null, key):
        df = pd.read_parquet(path, columns=sorted(set(not_null + key)))
        return len(df.dropna(subset=not_null).drop_duplicates(subset=key))
    return (n(files["yellow"], ["tpep_pickup_datetime", "tpep_dropoff_datetime"],
              ["tpep_pickup_datetime", "trip_distance"])
            + n(files["green"], ["lpep_pickup_datetime", "lpep_dropoff_datetime"],
                ["lpep_pickup_datetime", "trip_distance"])
            + n(files["hvfhv"], ["pickup_datetime", "dropoff_datetime"],
                ["hvfhs_license_num", "pickup_datetime", "PULocationID", "DOLocationID",
                 "trip_miles", "base_passenger_fare"]))


def fact_rows(warehouse):
    df = read(os.path.join(warehouse, "fact_trips"))
    return 0 if df is None else len(df)
