"""Output checks of the QC pipeline workload, run after the timed passes:
its sinks are read back and checked against invariants of the generated
input. (Catalog entries are compared with their DuckDB oracle through the
test suite's ``oracle_utils.compare``.)"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd


def _read_csv_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(f) for f in files if os.path.getsize(f) > 0]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _read_parquet_dir(path: str) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def check_qc_outputs(out_dir: str, manifest: dict) -> dict[str, list[str]]:
    """Failures per sink of ``write_outputs``, from invariants of the
    generated CSV: row counts, sentinel masking, duplicate counts, gap
    flags, flagged spikes and flat-run events."""
    from wq_data_pipeline_spark.functions.scalars import sanitize_name

    stations, variables = manifest["stations"], manifest["variables"]
    kept = manifest["wide_rows"]
    n_series = len(stations) * len(variables)
    sinks = ("qc_timeseries_wide", "qc_timeseries_long", "events", "seasonal", "meta")
    fails: dict[str, list[str]] = {k: [] for k in sinks}

    wide = _read_parquet_dir(os.path.join(out_dir, "qc_timeseries_wide"))
    if len(wide) != sum(kept.values()):
        fails["qc_timeseries_wide"].append(f"rows {len(wide)} != {sum(kept.values())}")
    suffixes = ("raw", "clean", "accepted", "saqc_flag", "sm_flagged")
    want_cols = {f"{sanitize_name(v)}__{s}" for v in variables for s in suffixes}
    missing = sorted(want_cols - set(wide.columns))
    if missing:
        fails["qc_timeseries_wide"].append(f"missing columns {missing[:3]}")

    long = _read_parquet_dir(os.path.join(out_dir, "qc_timeseries_long"))
    f = fails["qc_timeseries_long"]
    if len(long) != len(variables) * sum(kept.values()):
        f.append(f"rows {len(long)} != {len(variables) * sum(kept.values())}")
    long["station"] = long["station"].astype(str)
    long["ts"] = pd.to_datetime(long["ts"]).dt.tz_localize(None)
    idx = long.set_index(["station", "variable", "ts"])
    sent = pd.MultiIndex.from_tuples([(s, v, pd.Timestamp(t)) for s, v, t in manifest["sentinel_cells"]])
    hit = idx.loc[idx.index.intersection(sent)]
    if len(hit) != len(sent) or hit["raw"].notna().any() or hit["clean"].notna().any():
        f.append("an injected sentinel is not masked")
    if long[["raw", "clean", "accepted"]].isin(manifest["sentinels"]).any().any():
        f.append("a sentinel value survives into the outputs")
    spikes = pd.MultiIndex.from_tuples([(s, v, pd.Timestamp(t)) for s, v, t in manifest["spikes"]])
    sp = idx.loc[idx.index.intersection(spikes)]
    if len(sp) != len(spikes) or (sp["saqc_flag"] != 255).any() or sp["accepted"].notna().any():
        f.append("an injected spike is not flagged")
    gaps = long.groupby(["station", "variable"])["is_gap"].sum()
    want_gaps = {(s, v): manifest["gaps"][s] for s in stations for v in variables}
    if {k: int(x) for k, x in gaps.items()} != want_gaps:
        f.append("gap flags do not match the dropped blocks")

    events = _read_csv_dir(os.path.join(out_dir, "events"))
    flat = events[events["type"] == "flat_values"].groupby(["station", "variable"]).size()
    if {f"{s}|{v}": int(n) for (s, v), n in flat.items()} != manifest["flat_runs"]:
        fails["events"].append("flat-run events do not match the injected runs")

    seasonal = _read_csv_dir(os.path.join(out_dir, "seasonal"))
    if len(seasonal) != n_series * len(manifest["seasons"]):
        fails["seasonal"].append(f"rows {len(seasonal)} != {n_series * len(manifest['seasons'])}")

    meta = _read_csv_dir(os.path.join(out_dir, "meta"))
    f = fails["meta"]
    if len(meta) != n_series:
        f.append(f"rows {len(meta)} != {n_series}")
    else:
        dups = {(r.station, r.variable): int(r.duplicates) for r in meta.itertuples()}
        if dups != {(s, v): manifest["duplicates"][s] for s in stations for v in variables}:
            f.append("duplicate counts do not match the injected duplicates")
        want = sorted(manifest["sentinels"])
        if any(sorted(json.loads(u)) != want for u in meta["sentinel_used"]):
            f.append("active sentinel set differs from the injected sentinels")
    return fails
