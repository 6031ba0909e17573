"""Seeded inputs and their numpy ground truth.

Every grid is a pure function of (seed, day, version), so a check can
rebuild the exact values the program was given.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from gridded_etl_tools_spark.sources import netcdf3 as nc

# a 12 x 20 degree window of the CHIRPS-US 0.25 deg grid: 48 x 80 = 3,840
# cells a day, small enough that every workload spans several months (the
# table's monthly buckets) at a few hundred thousand points; longitudes in
# the 0-360 form the raw files carry, standardized to -180..180 on ingest
LATS = np.arange(30.0, 42.0, 0.25)
LONS = np.arange(250.0, 270.0, 0.25)
LONS_STD = LONS - 360.0
CELLS = LATS.size * LONS.size
SENTINEL = -9999.0
EPOCH = dt.datetime(1981, 1, 1)


def day_time(day: int) -> dt.datetime:
    return EPOCH + dt.timedelta(days=day)


def day_grid(seed: int, day: int, version: int = 0) -> np.ndarray:
    """float32 (lat, lon) precipitation for one day, ~2% sentinel cells.
    ``version`` > 0 is a re-issued day with new values."""
    rng = np.random.default_rng([seed, day, version])
    data = (rng.random((LATS.size, LONS.size)) * 50).astype("f4")
    data[rng.random(data.shape) < 0.02] = SENTINEL
    return data


def truth(grid: np.ndarray) -> np.ndarray:
    """What the table must hold for ``grid``: float64, sentinels as NaN."""
    out = grid.astype("f8")
    out[grid == SENTINEL] = np.nan
    return out


def write_day(raw_dir: str, seed: int, day: int, version: int = 0) -> int:
    """One classic NetCDF3 file for ``day``; returns its size in bytes."""
    path = os.path.join(raw_dir, f"chirps-{day:05d}.nc")
    nc.write_netcdf3(
        path,
        dims={"time": None, "latitude": LATS.size, "longitude": LONS.size},
        variables={
            "latitude": (("latitude",), nc.NC_DOUBLE, {}, LATS),
            "longitude": (("longitude",), nc.NC_DOUBLE, {}, LONS),
            "time": (
                ("time",), nc.NC_DOUBLE,
                {"units": (nc.NC_CHAR, "days since 1981-01-01")},
                np.array([float(day)]),
            ),
            "precip": (
                ("time", "latitude", "longitude"), nc.NC_FLOAT,
                {"_FillValue": (nc.NC_FLOAT, SENTINEL)},
                day_grid(seed, day, version)[None],
            ),
        },
    )
    return os.path.getsize(path)


def write_days(raw_dir: str, seed: int, days, version: int = 0) -> int:
    os.makedirs(raw_dir, exist_ok=True)
    return sum(write_day(raw_dir, seed, d, version) for d in days)
