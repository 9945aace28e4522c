"""Seeded, single-process input generator for the acon benchmark.

Every input the engine sees is written here, under one work directory,
from ``numpy.random.default_rng(seed)``: the same seed gives the same
bytes. Nothing is read from outside the work directory.

A workload is a sequence of acon steps, run in order by one client:

* ``lake_loads``  — the two table loads of a nightly ingest:
  ``full_load``, a ``|``-delimited DSV landing dir of lineitem-shaped
  rows (ship date rendered ``yyyyMMdd``) reloaded into a
  ``year/month/day`` table, then ``delta_load``, a CDC batch (a few
  percent of the business keys, some with two change records, a tenth
  of them deletes) merged into an active table partitioned
  ``year=/month=``.
* ``fuzzy_dedup`` — a parquet corpus of random-word documents with
  planted near-duplicates and exact copies.

Each ``make_*`` returns a :class:`Step` with the acon path and the
paths the output check needs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

# Workload sizes. "bench" is the measured size; "smoke" is the
# sf0.001-sized self-check that every metric and output check runs.
# A bench run costs 4-10 s on 4 cores, set by the number of partition
# directories (full_load, delta_load) and of Spark stages (fuzzy_dedup)
# more than by rows. The partition counts (30 days, 13 months) keep the
# per-directory write and per-partition commit visible while keeping
# the files and renames of a run, whose cost swings with the host's
# disk, few.
SIZES = {
    "bench": {"full_rows": 100_000, "full_days": 30, "delta_rows": 100_000,
              "delta_days": 365, "docs": 500},
    "smoke": {"full_rows": 6_000, "full_days": 60, "delta_rows": 6_000,
              "delta_days": 2_500, "docs": 200},
}

FIRST_DAY = dt.date(1995, 1, 2)
CDC_SHARE = 0.03
DELETE_SHARE = 0.10
DOUBLE_RECORD_SHARE = 0.20
VOCAB = (
    "the a data spark table join sort merge filter group order line key "
    "value row column batch stream window hash scan part small big fast "
    "slow query vector agg customer dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")

LINEITEM_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (
            ("l_orderkey", "long"), ("l_linenumber", "integer"),
            ("l_partkey", "long"), ("l_quantity", "double"),
            ("l_extendedprice", "double"), ("l_discount", "double"),
            ("l_returnflag", "string"), ("l_shipdate", "string"),
        )
    ],
}


@dataclass
class Step:
    kind: str  # the step's acon shape, which selects its output check
    acon: str
    algorithm: str
    target: str
    files: dict[str, str] = field(default_factory=dict)


def _day_strings(days: np.ndarray) -> np.ndarray:
    """Day offsets from FIRST_DAY → 'yyyyMMdd' strings."""
    base = np.datetime64(FIRST_DAY.isoformat(), "D")
    return np.char.replace((base + days).astype("U10"), "-", "")


def _lineitem(rng: np.random.Generator, rows: int, days: int) -> dict:
    """Lineitem-shaped columns; (l_orderkey, l_linenumber) is unique and
    every day offset in [0, days) occurs when rows >> days."""
    lines = rng.integers(1, 8, size=rows)  # lines per order, 1..7
    ends = np.cumsum(lines)
    lines = lines[: int(np.searchsorted(ends, rows)) + 1]
    orderkey = np.repeat(np.arange(1, len(lines) + 1, dtype=np.int64), lines)[:rows]
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:rows]
    linenumber = (np.arange(rows) - starts + 1).astype(np.int32)
    # one ship day per row; the first `days` rows pin full day coverage
    day = rng.integers(0, days, size=rows)
    day[: min(days, rows)] = rng.permutation(days)[: min(days, rows)]
    qty = rng.integers(1, 51, size=rows).astype(np.float64)
    return {
        "l_orderkey": orderkey,
        "l_linenumber": linenumber,
        "l_partkey": rng.integers(1, 20_001, size=rows).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=rows), 2),
        "l_discount": np.round(rng.integers(0, 11, size=rows) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, size=rows)],
        "l_shipdate": _day_strings(day),
    }


def _write_acon(path: str, params: dict) -> str:
    with open(path, "w") as fh:
        json.dump(params, fh, indent=1)
    return path


def make_full_load(rng: np.random.Generator, root: str, size: dict) -> Step:
    cols = _lineitem(rng, size["full_rows"], size["full_days"])
    landing = os.path.join(root, "landing", "lineitem")
    os.makedirs(landing)
    names = [f["name"] for f in LINEITEM_SCHEMA["fields"]]
    rows = size["full_rows"]
    n_files = 4
    for i in range(n_files):
        lo, hi = rows * i // n_files, rows * (i + 1) // n_files
        parts = [cols[n][lo:hi].astype(str) for n in names]
        with open(os.path.join(landing, f"part-{i:05d}.dsv"), "w") as fh:
            for rec in zip(*parts):
                fh.write("|".join(rec))
                fh.write("\n")
    target = os.path.join(root, "lake", "lineitem_full")
    acon = _write_acon(os.path.join(root, "full_load.json"), {
        "source_dir": landing,
        "file_format": "dsv",
        "delimiter": "|",
        "has_header": False,
        "reader_mode": "FAILFAST",
        "schema": LINEITEM_SCHEMA,
        "target_location": target,
        "target_partitions": ["year", "month", "day"],
        "partition_column": "l_shipdate",
        "partition_column_format": "yyyyMMdd",
        "output_files_num": 10,
    })
    return Step("full_load", acon, "FullLoad", target, {"landing": landing})


def make_delta_load(rng: np.random.Generator, root: str, size: dict) -> Step:
    rows = size["delta_rows"]
    cols = _lineitem(rng, rows, size["delta_days"])
    del cols["l_returnflag"]
    days = cols["l_shipdate"]
    cols["year"] = np.array([int(d[:4]) for d in days], dtype=np.int32)
    cols["month"] = np.array([int(d[4:6]) for d in days], dtype=np.int32)
    active = pa.table(cols)
    target = os.path.join(root, "lake", "lineitem_active")
    pads.write_dataset(
        active, target, format="parquet",
        partitioning=pads.partitioning(
            pa.schema([("year", pa.int32()), ("month", pa.int32())]),
            flavor="hive",
        ),
        basename_template="part-{i}.parquet",
    )

    # CDC batch: a CDC_SHARE sample of the keys. Upserts keep the ship
    # date (the row stays in its partition) and change the measures;
    # a DOUBLE_RECORD_SHARE of keys also carry an older, superseded
    # record that condensation must drop.
    n = int(rows * CDC_SHARE)
    pick = np.sort(rng.choice(rows, size=n, replace=False))
    deletes = rng.random(n) < DELETE_SHARE
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    latest = {
        "l_orderkey": cols["l_orderkey"][pick],
        "l_linenumber": cols["l_linenumber"][pick],
        "l_partkey": cols["l_partkey"][pick],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=n), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_shipdate": cols["l_shipdate"][pick],
        "recordmode": np.where(deletes, "D", np.where(rng.random(n) < 0.5, "N", "")),
        "cdc_seq": np.full(n, 2, dtype=np.int64),
    }
    old = rng.random(n) < DOUBLE_RECORD_SHARE
    older = {k: v[old].copy() for k, v in latest.items()}
    older["l_quantity"] = older["l_quantity"] + 100.0
    older["recordmode"] = np.full(int(old.sum()), "N")
    older["cdc_seq"] = np.full(int(old.sum()), 1, dtype=np.int64)
    batch = pa.concat_tables([pa.table(latest), pa.table(older)])
    cdc = os.path.join(root, "landing", "lineitem_cdc")
    os.makedirs(cdc)
    pq.write_table(batch, os.path.join(cdc, "part-00000.parquet"))
    acon = _write_acon(os.path.join(root, "delta_load.json"), {
        "delta_records_file_path": cdc,
        "active_records_table_lake": "lineitem_active",
        "business_key": ["l_orderkey", "l_linenumber"],
        "technical_key": ["cdc_seq"],
        "record_mode_column": "recordmode",
        "target_location": target,
        "target_partitions": ["year", "month"],
        "partition_column": "l_shipdate",
        "partition_column_format": "yyyyMMdd",
        "load_mode": "OverwritePartitions",
        "output_files_num": 10,
    })
    return Step("delta_load", acon, "DeltaLoad", target, {"cdc": cdc, "active": target})


def make_fuzzy_dedup(rng: np.random.Generator, root: str, size: dict) -> Step:
    """Blocks of ten documents with one fixed duplicate structure, so
    every seed yields the same clusters and connected-components rounds:
    positions 0-6 are random originals (40-100 tokens), 7 and 8 are
    one-token edits of 0 (Jaccard of 3-shingles >= 0.85, far above the
    0.5 floor), and 9 is an exact copy of 1."""
    n = size["docs"] - size["docs"] % 10
    texts: list[str] = []
    for i in range(n):
        pos = i % 10
        if pos == 9:
            texts.append(texts[i - 8])
        elif pos in (7, 8):
            toks = texts[i - pos].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            k = 40 + (i * 37) % 61
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    corpus = os.path.join(root, "landing", "corpus")
    os.makedirs(corpus)
    pq.write_table(docs, os.path.join(corpus, "part-00000.parquet"))
    target = os.path.join(root, "lake", "deduped_corpus")
    acon = _write_acon(os.path.join(root, "fuzzy_dedup.json"), {
        "source_location": corpus,
        "id_column": "doc_id",
        "text_column": "text",
        "num_hashes": 16,
        "bands": 8,
        "shingle_n": 3,
        "threshold": 0.5,
        "target_location": target,
        "output_files_num": 8,
    })
    return Step("fuzzy_dedup", acon, "FuzzyDedup", target, {"corpus": corpus})


WORKLOADS = {
    "lake_loads": (make_full_load, make_delta_load),
    "fuzzy_dedup": (make_fuzzy_dedup,),
}


def generate(workload: str, seed: int, root: str, scale: str = "bench") -> list[Step]:
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    return [make(rng, root, SIZES[scale]) for make in WORKLOADS[workload]]
