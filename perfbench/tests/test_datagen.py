import collections

import pyarrow.parquet as pq

import datagen


def _rows(path):
    t = pq.read_table(path)
    return collections.Counter(zip(*(c.to_pylist() for c in t.columns)))


def test_same_seed_same_rows(tmp_path):
    a = datagen.write_trips(str(tmp_path / "a"), 7, 12_000)
    b = datagen.write_trips(str(tmp_path / "b"), 7, 12_000)
    for pa_, pb in zip(a, b):
        assert _rows(pa_) == _rows(pb)


def test_other_seed_changes_values_not_sizes(tmp_path):
    a = datagen.write_trips(str(tmp_path / "a"), 7, 12_000)
    b = datagen.write_trips(str(tmp_path / "b"), 8, 12_000)
    assert [pq.ParquetFile(p).metadata.num_rows for p in a] == [
        pq.ParquetFile(p).metadata.num_rows for p in b
    ]
    assert _rows(a[0]) != _rows(b[0])


def test_trip_files_shape(tmp_path):
    paths = datagen.write_trips(str(tmp_path), 3, 24_000)
    assert len(paths) == len(datagen.TRIP_MONTHS)
    first, last = pq.read_table(paths[0]), pq.read_table(paths[-1])
    assert datagen.DRIFT_COLUMN not in first.column_names
    assert datagen.DRIFT_COLUMN in last.column_names
    pickups = last.column("pickup_datetime")
    assert pickups.null_count > 0
    live = [v for v in pickups.to_pylist() if v is not None]
    assert live == sorted(live)
    assert any(v.hour == 0 and v.minute == 0 and v.second == 0 and v.microsecond == 0 for v in live)


def test_zone_counts_tie_at_top_five():
    zones, counts = datagen.zone_counts(1_000_000, datagen.rng_for(1, "t"))
    ranked = sorted(counts, reverse=True)
    assert counts.sum() == 1_000_000
    assert ranked[4] == ranked[5] > ranked[6]
    assert sorted(zones) == list(range(1, datagen.N_ZONES + 1))
