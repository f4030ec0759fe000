"""Output checks for the benchmark's untimed checking pass.

Keys whose oracle is SQL are compared with DuckDB over the same parquet
files by the rule of the repository's oracle-parity test: same column
names, same row count, and after sorting by every column, exactly equal
floats (NaN matches NaN) and equal strings for everything else.

Keys whose oracle only reads a committed expected parquet cannot be
compared on seeded inputs, so each is checked for a property its method
must have instead (``PROPERTY_CHECKS``).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: IVF probes 3 of 8 cells. Its recall@5 against the exact top-5 on the
#: benchmark's random unit vectors is given in the README; a broken index
#: finds only the query itself (0.2).
ANN_MIN_RECALL = 0.3


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_differ(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """The first difference between two result frames, or None."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    ca, cb = _canon(a), _canon(b)
    for col in ca.columns:
        for i, (x, y) in enumerate(zip(ca[col].tolist(), cb[col].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return f"{col}[{i}]: {x!r} != {y!r}"
            elif str(x) != str(y):
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def _ann(out: pd.DataFrame, con) -> str | None:
    """Scores are the exact cosines of the pairs, ranks follow the
    scores, and recall@5 against an exact NumPy top-5 is above
    ``ANN_MIN_RECALL``."""
    emb = con.execute("SELECT vec_id, embedding FROM embeddings "
                      "ORDER BY vec_id").df()
    ids = emb["vec_id"].to_numpy()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    row = {v: i for i, v in enumerate(ids)}
    hits = total = 0
    for q, grp in out.groupby("query_id"):
        sims = x @ x[row[q]]
        got = sims[[row[c] for c in grp["cand_id"]]]
        if np.abs(got - grp["score"].to_numpy()).max() > 1e-4:
            return f"query {q}: scores are not the exact cosines"
        if not (np.diff(grp.sort_values("rank")["score"].to_numpy()) <= 0).all():
            return f"query {q}: ranks out of score order"
        exact = set(ids[np.argsort(-sims, kind="stable")[:5]])
        hits += len(exact & set(grp["cand_id"]))
        total += 5
    if total == 0 or hits / total < ANN_MIN_RECALL:
        return f"recall@5 {hits}/{total} below {ANN_MIN_RECALL}"
    return None


def _multimodal(out: pd.DataFrame, con) -> str | None:
    """Counts and byte totals per modality are exact; the mean byte value
    (feature 2 of the decoder) matches a NumPy mean over the payloads."""
    docs = con.execute("SELECT doc_id, text FROM documents").df()
    payload = [t.encode("utf-8") for t in docs["text"]]
    modality = np.array(["image", "audio", "video"])[docs["doc_id"].to_numpy() % 3]
    for m, grp in out.groupby("modality"):
        mask = modality == m
        sizes = [len(p) for p, k in zip(payload, mask) if k]
        means = [np.frombuffer(p[:4096], np.uint8).mean()
                 for p, k in zip(payload, mask) if k]
        exp = (len(sizes), sum(sizes), round(float(np.mean(means)), 4))
        got = tuple(grp[["n_assets", "total_bytes", "avg_mean_byte"]].iloc[0])
        if got[:2] != exp[:2] or abs(got[2] - exp[2]) > 1.5e-4:
            return f"{m}: {got} != {exp}"
    return None


def _importances(out: pd.DataFrame, con) -> str | None:
    """One non-negative importance per model feature, summing to 1 up to
    the 4-decimal rounding of each."""
    feats = sorted(out["feature"])
    imp = out["importance"].to_numpy()
    if feats != ["l_discount", "l_quantity", "l_tax"]:
        return f"features {feats}"
    if (imp < 0).any() or abs(imp.sum() - 1.0) > 1.5e-4 * len(imp):
        return f"importances {imp.tolist()}"
    return None


PROPERTY_CHECKS = {
    "ann_ivf": _ann,
    "multimodal_features": _multimodal,
    "gbt_feature_importance": _importances,
}


def check(name: str, out: pd.DataFrame, oracle_sql: str, con) -> str | None:
    """None when ``out`` is a correct result of query ``name``."""
    if name in PROPERTY_CHECKS:
        return PROPERTY_CHECKS[name](out, con)
    return frames_differ(out, con.execute(oracle_sql).df())
