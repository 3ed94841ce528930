"""Seeded inputs and the independent recount of what was injected into them.

The engine only ever sees the parquet files written here. The recount reads
the same files with pyarrow/numpy (never Spark), so a verdict that agrees
with it was not derived from the code under test.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_drift_monitoring_spark.config import ALLOWED_SOURCES

# ---------------------------------------------------------------- sequences

# odd 64-bit weight per token position: a row hash sum((tok+1) * W[pos])
# changes whenever any single element changes (odd weights never vanish
# mod 2^64), independent of Spark's xxhash64 digests
_W = np.random.default_rng(20240917).integers(
    1, 2**63, size=4096, dtype=np.int64).astype(np.uint64) | np.uint64(1)


def _row_hashes(tokens: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(length, hash) per row of a list<int32> column; null rows get
    length -1."""
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    lens = np.diff(offsets)
    flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.uint64)
    pos = np.arange(len(flat), dtype=np.int64) - np.repeat(offsets[:-1], lens)
    contrib = (flat + np.uint64(1)) * _W[pos % len(_W)]
    h = np.zeros(len(lens), dtype=np.uint64)
    nz = lens > 0
    if len(flat):
        h[nz] = np.add.reduceat(contrib, offsets[:-1][nz])
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    lens = np.where(valid, lens, -1)
    return lens, h


def _read_sequences(path: str) -> pd.DataFrame:
    frames = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        t = pq.read_table(f)
        lens, h = _row_hashes(t.column("tokens").combine_chunks())
        frames.append(pd.DataFrame({
            "part_id": t.column("part_id").to_numpy(),
            "doc_id": t.column("doc_id").to_pandas(),
            "n_tok": t.column("n_tok").to_numpy(),
            "source": t.column("source").to_pandas(),
            "tok_len": lens,
            "tok_hash": h,
        }))
    return pd.concat(frames, ignore_index=True)


def sequence_facts(cur_path: str, ref_path: str) -> dict:
    """Per-part expected values of every recountable verdict, plus the row
    count of the violation export and the token total."""
    cur = _read_sequences(cur_path)
    ref = _read_sequences(ref_path)
    has_id = cur["doc_id"].notna()
    has_tok = cur["tok_len"] >= 0

    # duplicates: rows in (part, doc_id) groups of size > 1 (verdicts) and
    # in global doc_id groups of size > 1 (violation export)
    ids = cur.loc[has_id, ["part_id", "doc_id"]]
    part_dup = ids.duplicated(keep=False)
    glob_dup = ids["doc_id"].duplicated(keep=False)

    # token equality: current rows whose doc_id is in the reference and
    # whose token array differs from that reference row
    r = ref.loc[ref["doc_id"].notna()].drop_duplicates("doc_id")
    j = cur.loc[has_id].merge(
        r[["doc_id", "tok_len", "tok_hash"]], on="doc_id", how="inner",
        suffixes=("", "_ref"),
    )
    mism = (j["tok_len"] != j["tok_len_ref"]) | (j["tok_hash"] != j["tok_hash_ref"])

    per_part = pd.DataFrame({
        "n_rows": cur.groupby("part_id").size(),
        "null_doc_id": (~has_id).groupby(cur["part_id"]).sum(),
        "null_tokens": (~has_tok).groupby(cur["part_id"]).sum(),
        "null_source": cur["source"].isna().groupby(cur["part_id"]).sum(),
        "len_mismatch": (has_tok & (cur["tok_len"] != cur["n_tok"]))
        .groupby(cur["part_id"]).sum(),
        "duplicate_rows": part_dup.groupby(ids["part_id"]).sum(),
        "unknown_source": (~cur["source"].isin(ALLOWED_SOURCES))
        .groupby(cur["part_id"]).sum(),
        "token_mismatch": mism.groupby(j["part_id"]).sum(),
    }).fillna(0).astype("int64")
    per_part.index = per_part.index.astype(int)

    violations = int(
        per_part["null_doc_id"].sum() + per_part["null_tokens"].sum()
        + per_part["len_mismatch"].sum() + int(glob_dup.sum())
        + per_part["unknown_source"].sum() + per_part["token_mismatch"].sum()
    )
    return {
        "parts": {int(p): row.to_dict() for p, row in per_part.iterrows()},
        "rows": int(len(cur)),
        "tokens": int(cur["n_tok"].sum()),
        "violations": violations,
    }


# ------------------------------------------------------------------ tabular

NUMERIC = {  # column -> (mean, sd)
    "x1": (10.0, 2.0),
    "x2": (100.0, 15.0),
}
REGIONS = (["north", "south", "east", "west", "central"],
           [0.35, 0.25, 0.2, 0.15, 0.05])
CHANNELS = (["web", "store", "phone"], [0.6, 0.3, 0.1])
NULL_RATE = {"x1": 0.02, "x2": 0.005,
             "n_items": 0.03, "region": 0.01, "channel": 0.002}
SHIFTED = ("x1",)      # +1 sd in the current table
NOVEL_REGION = "offworld"   # 10% of current rows
OUTLIER_COL, OUTLIER_RATE, OUTLIER_SDS = "x2", 0.002, 12.0
DUP_RATE = 0.01


def _tabular(rng: np.random.Generator, rows: int, drifted: bool) -> pd.DataFrame:
    cols = {}
    for c, (mu, sd) in NUMERIC.items():
        x = rng.normal(mu + (sd if drifted and c in SHIFTED else 0.0), sd, rows)
        if c == OUTLIER_COL:
            out = rng.random(rows) < OUTLIER_RATE
            x[out] = mu + np.where(rng.random(out.sum()) < 0.5, -1, 1) * OUTLIER_SDS * sd
        cols[c] = x
    cols["n_items"] = rng.poisson(3.0, rows).astype(np.int64)
    region = rng.choice(REGIONS[0], size=rows, p=REGIONS[1]).astype(object)
    if drifted:
        region[rng.random(rows) < 0.10] = NOVEL_REGION
    cols["region"] = region
    cols["channel"] = rng.choice(CHANNELS[0], size=rows, p=CHANNELS[1]).astype(object)
    df = pd.DataFrame(cols)
    df["n_items"] = df["n_items"].astype("Int64")
    for c, rate in NULL_RATE.items():
        df.loc[rng.random(rows) < rate, c] = None
    if drifted:  # exact full-row copies of other rows
        n_dup = int(rows * DUP_RATE)
        src = rng.choice(rows, size=n_dup, replace=False)
        dst = rng.choice(np.setdiff1d(np.arange(rows), src), size=n_dup,
                         replace=False)
        idx = np.arange(rows)
        idx[dst] = src
        df = df.iloc[idx].reset_index(drop=True)
    return df


_TAB_SCHEMA = pa.schema([
    *(pa.field(c, pa.float64()) for c in NUMERIC),
    pa.field("n_items", pa.int64()),
    pa.field("region", pa.string()),
    pa.field("channel", pa.string()),
])


def write_tabular(path: str, seed: int, rows: int, drifted: bool,
                  files: int = 8) -> str:
    rng = np.random.default_rng([seed, int(drifted), 7])
    df = _tabular(rng, rows, drifted)
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(rows), files)):
        t = pa.Table.from_pandas(df.iloc[chunk], schema=_TAB_SCHEMA,
                                 preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{i}.parquet"))
    return path


def tabular_facts(path: str) -> dict:
    df = pd.concat(
        [pq.read_table(f).to_pandas()
         for f in sorted(glob.glob(os.path.join(path, "*.parquet")))],
        ignore_index=True,
    )
    return {
        "rows": int(len(df)),
        "nulls": {c: int(df[c].isna().sum()) for c in df.columns},
        "duplicate_rows": int(df.duplicated(keep=False).sum()),
        "outliers_at_least": int(
            ((df[OUTLIER_COL] - NUMERIC[OUTLIER_COL][0]).abs()
             > 10 * NUMERIC[OUTLIER_COL][1]).sum()),
        "drifted": sorted([*SHIFTED, "region"]),
    }
