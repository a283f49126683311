"""Seeded input generators for the benchmark workloads.

``corpus_tables`` writes the tables the benchmarked corpus entries read
(``documents``, ``orders``, ``lineitem``) with the schemas and value
distributions of the engine's synthetic test tables, at a chosen size.

``sensor_csv`` writes the wide sensor CSV the QC pipeline ingests, with
injected sentinels, duplicate timestamps, dropped rows, NaN gaps, flat runs
and spikes, and returns what it injected so the outputs can be checked.

Both are pure functions of their arguments: the same seed gives the same
files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, version="2.6")


def corpus_tables(out_dir: str, seed: int, documents: int, orders: int) -> dict[str, int]:
    """Write the documents, orders and lineitem parquet files into ``out_dir``.

    documents: 10-99 words from a 30-word vocabulary, 5% of them a copy of
    another document plus " dup". orders/lineitem hold the key columns the
    purchase-graph entry reads: 1-7 line items per order, ~10 orders per
    customer and ~150 per supplier.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 100, documents)]
    for i in rng.choice(documents, documents // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, documents))] + " dup"
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(documents), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(LANGS, documents, p=LANG_P)),
                "source": pa.array([f"src{i % 20}" for i in range(documents)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    lines = rng.integers(1, 8, orders)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(1, orders + 1), pa.int64()),
                "o_custkey": pa.array(rng.integers(1, orders // 10 + 2, orders), pa.int64()),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(np.repeat(np.arange(1, orders + 1), lines), pa.int64()),
                "l_suppkey": pa.array(rng.integers(1, orders // 150 + 2, int(lines.sum())), pa.int64()),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    return {"documents": documents, "orders": orders, "lineitem": int(lines.sum())}


# wide-CSV variables: (column, mean, sd, physical range)
VARIABLES = (
    ("SurfaceWaterConcentration_O2 [mg*L-1]", 10.0, 1.5, (0.0, 40.0)),
    ("SurfaceWaterpH [pH]", 6.8, 0.25, (0.0, 13.0)),
    ("SurfaceWaterTurbidity [NTU]", 20.0, 4.0, (0.0, 4000.0)),
    ("SurfaceWaterConcentration_NO3_Trios [mg*L-1]", 4.0, 1.0, (0.0, 35.0)),
)
SENTINELS = (-9999.0, -9.0)
STEP_S = 900
SEGMENT = 48  # points (12 h) per placement segment; one injected feature each
SENTINEL_CELLS = 6  # per series and sentinel value: >= 5 makes it active
DUP_SHARE = 0.005
SEASON_MONTHS = {"DJF": (12, 1, 2), "MAM": (3, 4, 5), "JJA": (6, 7, 8), "SON": (9, 10, 11)}
SEASONS = {m: s for s, months in SEASON_MONTHS.items() for m in months}


def sensor_csv(path: str, seed: int, stations: int, days: int) -> dict:
    """Write a wide 15-min sensor CSV and return the injection manifest.

    Each station's timeline is cut into segments of ``SEGMENT`` points.
    A segment holds at most one feature: a dropped block of rows (a gap
    over 2 h), or per variable a NaN block, a flat run or a spike. The
    remaining "quiet" segments receive the sentinel cells and the
    duplicated timestamps, so no two injections interact.
    """
    rng = np.random.default_rng(seed)
    n = days * 96
    base_ts = pd.Timestamp("2024-03-04") + pd.to_timedelta(np.arange(n) * STEP_S, unit="s")
    n_seg = n // SEGMENT
    frames = []
    manifest = {
        "stations": [],
        "variables": [v[0] for v in VARIABLES],
        "range_map": {v[0]: v[3] for v in VARIABLES},
        "sentinels": list(SENTINELS),
        "sentinel_cells": [],  # (station, variable, ts)
        "spikes": [],  # (station, variable, ts)
        "flat_runs": {},  # "station|variable" -> count
        "duplicates": {},  # station -> extra rows per variable
        "gaps": {},  # station -> dropped blocks (each > 2 h)
        "wide_rows": {},  # station -> distinct timestamps kept
        "seasons": [],  # DJF/MAM/JJA/SON seasons the kept timestamps fall in
        "input_rows": 0,  # CSV data rows
    }
    seasons = set()
    for s in range(stations):
        st = f"stn{s}"
        manifest["stations"].append(st)
        t = np.arange(n)
        vals = {}
        for name, mean, sd, _ in VARIABLES:
            daily = 0.4 * sd * np.sin(2 * np.pi * t / 96.0 + rng.uniform(0, 6.3))
            vals[name] = mean + daily + rng.normal(0, sd * 0.3, n)
        keep = np.ones(n, bool)
        segs = rng.permutation(n_seg)
        cursor = 0

        def take(k: int) -> np.ndarray:
            nonlocal cursor
            out = segs[cursor:cursor + k]
            cursor += k
            return out

        # dropped blocks: 9-30 missing rows -> a gap > 2 h before the next row
        drops = take(2)
        for g in drops:
            start = g * SEGMENT + 8
            keep[start:start + int(rng.integers(9, 31))] = False
        manifest["gaps"][st] = len(drops)
        for name, mean, sd, _ in VARIABLES:
            v = vals[name]
            for g in take(2):  # NaN blocks
                start = g * SEGMENT + 8
                v[start:start + int(rng.integers(2, 13))] = np.nan
            runs = take(2)  # flat runs of 16-32 points (4-8 h)
            for g in runs:
                start = g * SEGMENT + 8
                v[start:start + int(rng.integers(16, 33))] = round(float(v[start - 1]), 3)
            manifest["flat_runs"][f"{st}|{name}"] = len(runs)
            for g in take(2):  # spikes: +12 sd, inside the physical range
                i = g * SEGMENT + 24
                v[i] = mean + 12 * sd
                manifest["spikes"].append((st, name, str(base_ts[i])))
        quiet = np.sort(segs[cursor:])
        quiet_idx = (quiet[:, None] * SEGMENT + np.arange(SEGMENT)[None, :]).ravel()
        # sentinel cells and duplicated rows sit in quiet segments only,
        # on distinct rows so a duplicate never carries a sentinel
        n_sent = SENTINEL_CELLS * len(SENTINELS) * len(VARIABLES)
        n_dup = max(1, int(DUP_SHARE * n))
        picked = rng.choice(quiet_idx, n_sent + n_dup, replace=False)
        sent_rows, dup_rows = picked[:n_sent], np.sort(picked[n_sent:])
        k = 0
        for name, *_ in VARIABLES:
            for sv in SENTINELS:
                for i in sent_rows[k:k + SENTINEL_CELLS]:
                    vals[name][i] = sv
                    manifest["sentinel_cells"].append((st, name, str(base_ts[i])))
                k += SENTINEL_CELLS
        df = pd.DataFrame({"timestamp": base_ts, "station": st, **vals})
        dups = df.iloc[dup_rows].copy()
        for name, _, sd, _ in VARIABLES:
            dups[name] = dups[name] + rng.normal(0, sd * 0.3, len(dups))
        df = pd.concat([df[keep], dups]).sort_values("timestamp", kind="stable")
        manifest["duplicates"][st] = len(dups)
        manifest["wide_rows"][st] = int(keep.sum())
        seasons |= {SEASONS[m] for m in base_ts[keep].month}
        frames.append(df)
    out = pd.concat(frames, ignore_index=True)
    out.to_csv(path, index=False, float_format="%.4f", date_format="%Y-%m-%d %H:%M:%S")
    manifest["input_rows"] = len(out)
    manifest["seasons"] = sorted(seasons)
    return manifest
