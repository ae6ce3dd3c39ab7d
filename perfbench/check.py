"""Output checks: the DuckDB-oracle compare for batch queries and the
stream-vs-batch compare for the streams."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

ORACLE_TABLES = ("events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted canonical frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def mismatch(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """The rule of tests/test_oracle_parity.py::compare: same row count and
    columns, then exact equality per column of the canonical frames (floats
    compared as float64, NaN equal to NaN). None when they agree."""
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} vs oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sa = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            oa = pd.to_numeric(ov, errors="coerce").to_numpy(dtype=float)
            ok = (sa == oa) | (pd.isna(sa) & pd.isna(oa))
        else:
            ok = ((sv.astype(object).where(~pd.isna(sv), None)
                   == ov.astype(object).where(~pd.isna(ov), None))
                  | (pd.isna(sv) & pd.isna(ov))).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())}/{len(ok)} mismatches"
    return None


class Oracle:
    """DuckDB over the generated tables, one result per query, cached as
    parquet under ``cache_dir`` (keyed by the caller: workload, sizes, seed).
    One DuckDB thread, because it runs beside the engine's untimed passes."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self._con = None

    def result(self, name: str, sql: str) -> pd.DataFrame:
        path = os.path.join(self.cache_dir, f"{name}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 1")
            for t in ORACLE_TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        df = self._con.execute(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
        return df

    def close(self):
        if self._con is not None:
            self._con.close()


def stream_mismatch(streamed: pd.DataFrame, batch: pd.DataFrame, key: str,
                    value_cols: list[str]) -> set:
    """Keys whose streamed row differs from the batch twin, at the tolerance
    of the repo's duality tests (rtol 1e-12, atol 1e-9); a key missing on
    either side counts as a mismatch."""
    m = streamed.merge(batch, on=key, how="outer", suffixes=("_s", "_b"), indicator=True)
    bad = set(m.loc[m["_merge"] != "both", key])
    both = m[m["_merge"] == "both"]
    for c in value_cols:
        a = both[c + "_s"].to_numpy(dtype=float)
        b = both[c + "_b"].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=1e-12, atol=1e-9) | (np.isnan(a) & np.isnan(b))
        bad |= set(both.loc[~ok, key])
    return bad
