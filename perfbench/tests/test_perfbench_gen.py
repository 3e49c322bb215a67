"""The input generators are pure functions of (seed, size)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen


def _read_all(directory: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = f.read()
    return out


def test_ppd_inputs_byte_identical_per_seed(tmp_path):
    a = _read_all(os.path.dirname(gen.write_ppd_inputs(str(tmp_path / "a"), 7, 2_000)[0]))
    b = _read_all(os.path.dirname(gen.write_ppd_inputs(str(tmp_path / "b"), 7, 2_000)[0]))
    c = _read_all(os.path.dirname(gen.write_ppd_inputs(str(tmp_path / "c"), 8, 2_000)[0]))
    assert a == b
    assert a["ppd.csv"] != c["ppd.csv"]


def test_star_tables_and_increment_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_star_tables(str(tmp_path / d), 3, 1_000, 100, 30)
        gen.write_increment(str(tmp_path / d / "tick.parquet"), 3, 30, 50, 100, 1_000)
    assert _read_all(str(tmp_path / "a")) == _read_all(str(tmp_path / "b"))
    gen.write_increment(str(tmp_path / "other.parquet"), 4, 30, 50, 100, 1_000)
    with open(tmp_path / "other.parquet", "rb") as f:
        assert f.read() != _read_all(str(tmp_path / "a"))["tick.parquet"]


def test_increment_ids_continue_after_history(tmp_path):
    gen.write_star_tables(str(tmp_path), 1, 1_000, 100, 30)
    gen.write_increment(str(tmp_path / "t30.parquet"), 1, 30, 50, 100, 1_000)
    gen.write_increment(str(tmp_path / "t31.parquet"), 1, 31, 50, 100, 1_000)
    ids = [
        set(pq.read_table(tmp_path / f, columns=["event_id"]).column(0).to_pylist())
        for f in ("events.parquet", "t30.parquet", "t31.parquet")
    ]
    assert sum(map(len, ids)) == len(set().union(*ids)) == 1_100


def test_postcodes_stay_distinct_without_whitespace():
    codes = [gen.postcode(i) for i in range(50_000)]
    assert len({c.replace(" ", "") for c in codes}) == len(codes)
