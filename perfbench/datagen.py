"""Seeded trip files for the ``etl_daily`` workload.

``write_trips`` writes monthly ``fhvhv_tripdata_YYYY-MM.parquet`` files in
the HVFHV schema (FIXTURES.md A1), sorted by pickup time with small row
groups so a one-day filter can skip most of them. ``PULocationID`` is
Zipf-skewed over 265 zones with a planned count tie at ranks 5/6, some
pickups are NULL (written last) or sit exactly on a midnight edge, and
``airport_fee`` is missing from the first two months (schema drift for
``mergeSchema``).

The rows come from a ``numpy`` generator seeded with ``(seed, "trips")``,
so one seed always yields the same rows. The size is a parameter: a
different seed changes values, never row counts.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ZONES = 265
TRIP_MONTHS = ("2024-01", "2024-02", "2024-03", "2024-04", "2024-05", "2024-06")
ROW_GROUP_ROWS = 32_768
#: The column absent from the first ``DRIFT_MONTHS`` files.
DRIFT_COLUMN = "airport_fee"
DRIFT_MONTHS = 2

_US_PER_DAY = 86_400_000_000


def rng_for(seed: int, name: str) -> np.random.Generator:
    """Independent generator per (seed, table)."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _month_bounds(month: str) -> tuple[int, int]:
    """[start, end) of ``YYYY-MM`` in epoch microseconds (UTC, naive)."""
    y, m = map(int, month.split("-"))
    start = dt.datetime(y, m, 1)
    end = dt.datetime(y + (m == 12), m % 12 + 1, 1)
    epoch = dt.datetime(1970, 1, 1)
    return (start - epoch) // dt.timedelta(microseconds=1), (
        end - epoch
    ) // dt.timedelta(microseconds=1)


def trip_days() -> list[str]:
    """Every calendar day the trip files cover, ISO formatted."""
    first = dt.date.fromisoformat(TRIP_MONTHS[0] + "-01")
    lo, hi = _month_bounds(TRIP_MONTHS[-1])
    last = dt.date(1970, 1, 1) + dt.timedelta(days=(hi - 1) // _US_PER_DAY)
    return [
        (first + dt.timedelta(days=i)).isoformat()
        for i in range((last - first).days + 1)
    ]


def zone_counts(n: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Zipf(1.1) trip counts over the 265 zones summing to ``n``, with the
    5th and 6th largest counts forced equal (a dense_rank tie at the top-5
    boundary). Returns (zone ids, counts), zone ids shuffled by ``rng``."""
    w = 1.0 / np.arange(1, N_ZONES + 1) ** 1.1
    counts = np.floor(n * w / w.sum()).astype(np.int64)
    counts[5] = counts[4]
    counts[0] += n - counts.sum()  # rounding remainder on the top zone
    zones = rng.permutation(np.arange(1, N_ZONES + 1))
    return zones, counts


def _ts(us: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"), mask=mask)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), type=pa.int32()),
        pa.array(values),
    ).cast(pa.string())


def _money(rng: np.random.Generator, n: int, scale: float) -> np.ndarray:
    return np.round(rng.gamma(2.0, scale / 2.0, n), 2)


def write_trips(out_dir: str, seed: int, total_rows: int) -> list[str]:
    """Write the monthly trip files; returns their paths (sorted)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "trips")
    per_month = total_rows // len(TRIP_MONTHS)
    n_null = per_month // 400  # ~0.25% NULL pickups per month
    n_live = per_month - n_null
    zones, counts = zone_counts(n_live * len(TRIP_MONTHS), rng)
    pu_all = rng.permutation(np.repeat(zones, counts))
    paths = []
    for i, month in enumerate(TRIP_MONTHS):
        lo, hi = _month_bounds(month)
        pickup = np.sort(rng.integers(lo, hi, n_live))
        # midnight edges: ~0.2% of rows snapped to a day's first or last µs
        edge = rng.random(n_live) < 0.002
        day0 = pickup[edge] // _US_PER_DAY * _US_PER_DAY
        late = rng.random(edge.sum()) < 0.5
        pickup[edge] = np.where(late, day0 + _US_PER_DAY - 1, day0)
        pickup = np.sort(pickup)
        n = per_month
        null = np.zeros(n, dtype=bool)
        null[n_live:] = True  # NULL pickups go last, after the sorted rows
        pickup = np.concatenate([pickup, np.zeros(n_null, dtype=np.int64)])
        pu = np.concatenate(
            [
                pu_all[i * n_live : (i + 1) * n_live],
                rng.integers(1, N_ZONES + 1, n_null),
            ]
        )
        trip_time = rng.integers(120, 3600, n)
        cols = {
            "hvfhs_license_num": _choice(rng, ["HV0002", "HV0003", "HV0004", "HV0005"], n),
            "dispatching_base_num": _choice(rng, [f"B{k:05d}" for k in range(40)], n),
            "originating_base_num": _choice(rng, [f"B{k:05d}" for k in range(40)], n),
            "request_datetime": _ts(pickup - rng.integers(60_000_000, 900_000_000, n)),
            "on_scene_datetime": _ts(pickup - rng.integers(0, 120_000_000, n)),
            "pickup_datetime": _ts(pickup, mask=null),
            "dropoff_datetime": _ts(pickup + trip_time * 1_000_000),
            "PULocationID": pa.array(pu, type=pa.int64()),
            "DOLocationID": pa.array(rng.integers(1, N_ZONES + 1, n), type=pa.int64()),
            "trip_miles": np.round(rng.lognormal(1.0, 0.8, n), 2),
            "trip_time": pa.array(trip_time, type=pa.int64()),
            "base_passenger_fare": _money(rng, n, 25.0),
            "tolls": _money(rng, n, 1.0),
            "bcf": _money(rng, n, 0.8),
            "sales_tax": _money(rng, n, 2.0),
            "congestion_surcharge": _money(rng, n, 1.5),
            "airport_fee": _money(rng, n, 0.5),
            "tips": _money(rng, n, 3.0),
            "driver_pay": _money(rng, n, 20.0),
            "shared_request_flag": _choice(rng, ["N", "Y"], n),
            "shared_match_flag": _choice(rng, ["N", "Y"], n),
            "access_a_ride_flag": _choice(rng, ["N", "Y"], n),
            "wav_request_flag": _choice(rng, ["N", "Y"], n),
            "wav_match_flag": _choice(rng, ["N", "Y"], n),
        }
        if i < DRIFT_MONTHS:
            del cols[DRIFT_COLUMN]
        path = os.path.join(out_dir, f"fhvhv_tripdata_{month}.parquet")
        pq.write_table(pa.table(cols), path, row_group_size=ROW_GROUP_ROWS)
        paths.append(path)
    return paths
