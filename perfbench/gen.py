"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of ``(seed, size)``: the same
arguments write byte-identical files (``tests/test_perfbench_gen.py``
checks it). The program under test only ever sees these files.

- :func:`write_ppd_inputs` — a Price-Paid-shaped CSV (the 16 HMLR columns
  with a header) plus a ``postcode,local_authority`` lookup CSV.
  Postcode popularity and LA sizes are Zipf-skewed, ~11 % of postcodes
  are missing from the lookup, and ~0.1 % of prices and dates are
  unparseable, so every cleaning and coverage path does real work. The
  skew exponents and the price spread are placeholders, not fitted to
  the real Price Paid data; only the shape (LA count, years, postcode
  count, unmapped and bad shares) follows the real job.
- :func:`write_star_tables` — ``events``/``customer``/``nation`` parquet
  in the schemas of the repository's synthetic test tables: the daily
  tick's history and the tables its dashboard panel queries.
- :func:`write_increment` — one day of ``events`` rows as a single
  parquet file in ``EVENTS_STREAM_SCHEMA`` (the daily tick's landing).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PPD_COLUMNS = [
    "transaction_unique_identifier",
    "price",
    "date_of_transfer",
    "postcode",
    "property_type",
    "old_new",
    "duration",
    "paon",
    "saon",
    "street",
    "locality",
    "town_city",
    "district",
    "county",
    "ppd_category_type",
    "record_status",
]
PPD_START = dt.date(2014, 1, 1)
BAD_SHARE = 0.001  # unparseable prices, and separately dates
UNMAPPED_SHARE = 0.11  # postcodes absent from the lookup
EMPTY_POSTCODE_SHARE = 0.005

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_START = dt.datetime(2023, 1, 2)  # a Monday
N_NATIONS = 25

_LETTERS = "ABCDEFGHJKLMNOPRSTUWY"  # 21 letters, as in UK postcodes


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def postcode(i: int) -> str:
    """The ``i``-th postcode of the synthetic universe, ``AB12 3CD``-shaped.

    Mixed-radix over (area, area, district 1-90, digit, letter, letter), so
    distinct ``i`` give distinct codes, also after whitespace is stripped
    (the inward part is always one digit and two letters).
    """
    n = len(_LETTERS)
    a1, i = _LETTERS[i % n], i // n
    a2, i = _LETTERS[i % n], i // n
    district, i = i % 90 + 1, i // 90
    digit, i = i % 10, i // 10
    l1, i = _LETTERS[i % n], i // n
    l2 = _LETTERS[i % n]
    return f"{a1}{a2}{district} {digit}{l1}{l2}"


def _la_name(j: int) -> str:
    return f"Authority {j:03d}"


def write_ppd_inputs(
    out_dir: str,
    seed: int,
    rows: int,
    n_las: int = 330,
    n_postcodes: int = 200_000,
    years: int = 10,
) -> tuple[str, str]:
    """Write ``ppd.csv`` and ``lookup.csv`` under ``out_dir``; return paths."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    # postcode universe: each code lives in one LA (LA sizes skewed);
    # a random ~11 % are left out of the lookup
    pc_la = rng.choice(n_las, size=n_postcodes, p=_zipf_weights(n_las, 0.7))
    mapped = rng.random(n_postcodes) >= UNMAPPED_SHARE
    codes = [postcode(i) for i in range(n_postcodes)]

    lookup_path = os.path.join(out_dir, "lookup.csv")
    lower = rng.random(n_postcodes) < 0.05  # exercises key normalization
    with open(lookup_path, "w", encoding="utf-8", newline="") as f:
        f.write("postcode,local_authority\n")
        for i in np.flatnonzero(mapped):
            code = codes[i].lower() if lower[i] else codes[i]
            f.write(f"{code},{_la_name(pc_la[i])}\n")

    # transactions: skewed postcode popularity (shuffled so popularity is
    # independent of LA size), uniform dates over ``years``
    popularity = rng.permutation(n_postcodes)
    pc_idx = popularity[
        rng.choice(n_postcodes, size=rows, p=_zipf_weights(n_postcodes, 0.8))
    ]
    days = rng.integers(0, years * 365, size=rows)
    prices = np.round(
        rng.lognormal(np.log(250_000), 0.6, size=rows), -2
    ).astype(np.int64)
    bad_price = rng.random(rows) < BAD_SHARE
    bad_date = rng.random(rows) < BAD_SHARE
    empty_pc = rng.random(rows) < EMPTY_POSTCODE_SHARE
    ptype = rng.choice(
        ["D", "S", "T", "F", "O", "d", " T"],
        size=rows,
        p=[0.25, 0.27, 0.27, 0.16, 0.03, 0.01, 0.01],
    )
    old_new = rng.choice(["N", "Y"], size=rows, p=[0.9, 0.1])
    duration = rng.choice(["F", "L"], size=rows, p=[0.75, 0.25])
    paon = rng.integers(1, 300, size=rows)
    street = rng.integers(1, 5_000, size=rows)
    category = rng.choice(["A", "B"], size=rows, p=[0.95, 0.05])
    guid = rng.integers(0, 2**63, size=(rows, 2), dtype=np.int64)

    date_str = [
        (PPD_START + dt.timedelta(days=int(d))).isoformat() + " 00:00" for d in days
    ]
    ppd_path = os.path.join(out_dir, "ppd.csv")
    with open(ppd_path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(f'"{c}"' for c in PPD_COLUMNS) + "\n")
        for r in range(rows):
            g0, g1 = int(guid[r, 0]), int(guid[r, 1])
            tid = (
                f"{{{g0 >> 31:08X}-{g0 >> 15 & 0xFFFF:04X}-{g0 & 0x7FFF:04X}"
                f"-{g1 >> 47 & 0xFFFF:04X}-{g1 & 0xFFFFFFFFFFFF:012X}}}"
            )
            pc = "" if empty_pc[r] else codes[pc_idx[r]]
            la = _la_name(pc_la[pc_idx[r]])
            fields = (
                tid,
                "N/A" if bad_price[r] else str(prices[r]),
                "unknown" if bad_date[r] else date_str[r],
                pc,
                ptype[r],
                old_new[r],
                duration[r],
                str(paon[r]),
                "",
                f"STREET {street[r]}",
                "",
                f"TOWN OF {la.upper()}",
                la.upper(),
                f"COUNTY {pc_la[pc_idx[r]] % 40:02d}",
                category[r],
                "A",
            )
            f.write(",".join(f'"{v}"' for v in fields) + "\n")
    return ppd_path, lookup_path


def _write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _events_table(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    start: dt.datetime,
    span_s: int,
    n_users: int,
) -> pa.Table:
    offsets = np.sort(rng.integers(0, span_s * 1_000_000, size=n))
    base_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    users = rng.choice(n_users, size=n, p=_zipf_weights(n_users, 0.6))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(base_us + offsets, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(
                np.round(rng.gamma(2.0, 20.0, size=n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()
            ),
        }
    )


def write_star_tables(
    out_dir: str, seed: int, events: int, customers: int, days: int
) -> None:
    """Write ``events``/``customer``/``nation`` parquet under ``out_dir``.

    ``events.user_id`` ranges over customer keys (Zipf-skewed), so the
    repository's customer→nation lookup maps most events; the lookup
    itself drops ``c_custkey % 7 == 3``, which leaves unmatched rows.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    _write_table(
        _events_table(rng, events, 0, EVENTS_START, days * 86_400, customers),
        os.path.join(out_dir, "events.parquet"),
    )
    keys = np.arange(customers)
    _write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
                "c_nationkey": pa.array(
                    rng.integers(0, N_NATIONS, size=customers), pa.int32()
                ),
                "c_acctbal": pa.array(
                    np.round(rng.uniform(-999.99, 9999.99, size=customers), 2),
                    pa.float64(),
                ),
                "c_mktsegment": pa.array(
                    rng.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                        size=customers,
                    ),
                    pa.string(),
                ),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    nations = np.arange(N_NATIONS)
    _write_table(
        pa.table(
            {
                "n_nationkey": pa.array(nations, pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in nations], pa.string()),
                "n_regionkey": pa.array(nations % 5, pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )


def write_increment(
    path: str,
    seed: int,
    day: int,
    rows: int,
    customers: int,
    history_events: int,
) -> None:
    """Write day ``day`` (0 = ``EVENTS_START``) of events to one parquet
    file. Event ids continue after the history and never repeat across
    days, so every increment row is a new transaction."""
    rng = np.random.default_rng([seed, 3, day])
    start = EVENTS_START + dt.timedelta(days=day)
    first_id = history_events + day * rows
    _write_table(
        _events_table(rng, rows, first_id, start, 86_400, customers), path
    )
