"""Output checks against references that do not run through Spark.

Registered queries are compared with their DuckDB ``ORACLES`` using
the normalization of ``declarativeml_spark.testing.compare_query``.
DuckDB answers depend only on the dataset, so they are cached under
``.bench_cache/oracles``, keyed by the tables' bytes and the SQL. DSL
statements are checked against DuckDB or numpy recomputations written
here.
"""

from __future__ import annotations

import functools
import hashlib
import os
from pathlib import Path
from typing import Optional

import duckdb
import numpy as np
import pandas as pd

from harness import CACHE


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from declarativeml_spark.testing import duckdb_connection

    return duckdb_connection(sf_dir)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    from declarativeml_spark.testing import _normalize

    return _normalize(df)


@functools.lru_cache(maxsize=None)
def answer_inputs(sf_dir: str) -> bytes:
    """What a DuckDB answer on ``sf_dir`` depends on besides its SQL:
    the bytes of the tables, the source of ``testing`` (the views and
    normalization) and the DuckDB version. The generator writes the
    same bytes for the same (scale factor, seed), so a cached answer
    is reused exactly while all of these stay the same."""
    from declarativeml_spark import testing

    h = hashlib.sha1(duckdb.__version__.encode())
    h.update(Path(testing.__file__).read_bytes())
    for f in sorted(Path(sf_dir).glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.digest()


def oracle_normalized(name: str, sql: str, sf_dir: str) -> pd.DataFrame:
    """The oracle's answer for ``name`` on ``sf_dir``, normalized,
    computed once per (inputs, SQL text) and cached as parquet."""
    key = hashlib.sha1(answer_inputs(sf_dir) + sql.encode()).hexdigest()[:16]
    path = CACHE / "oracles" / Path(sf_dir).name / f"{name}-{key}.parquet"
    if path.exists():
        return pd.read_parquet(path)
    con = duck(sf_dir)
    try:
        raw = con.execute(sql).fetchdf()
    finally:
        con.close()
    norm = normalize(raw).astype(str)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    norm.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return norm


def compare_with_oracle(name: str, sql: str, sf_dir: str, got: pd.DataFrame) -> Optional[str]:
    """``compare_query``'s gate on an already fetched result: same
    column names, same row count, same normalized values."""
    want = oracle_normalized(name, sql, sf_dir)
    if sorted(got.columns) != sorted(want.columns):
        return f"schema mismatch: got={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count mismatch: got={len(got)} oracle={len(want)}"
    g = normalize(got).astype(str).reset_index(drop=True)
    if not g.equals(want.reset_index(drop=True)):
        bad = (g != want).any(axis=1)
        i = int(np.flatnonzero(bad.to_numpy())[0])
        return f"value mismatch at row {i}: got={g.loc[i].to_dict()} oracle={want.loc[i].to_dict()}"
    return None


def duck_df(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duck(sf_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def close(a, b, rtol: float = 1e-9, atol: float = 1e-9) -> bool:
    return bool(np.allclose(np.asarray(a, dtype=float), np.asarray(b, dtype=float), rtol=rtol, atol=atol))


# -- DSL statement references -------------------------------------------


def ridge_predictions(sf_dir: str, train_where: str, score_where: str, lam: float) -> pd.DataFrame:
    """Closed-form ridge fit on two features (intercept unpenalized),
    solved in numpy from DECIMAL-exact moments DuckDB sums, then
    applied to the scored rows."""
    m = duck_df(sf_dir, f"""
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        FROM lineitem WHERE {train_where}""").iloc[0]
    a = np.array([
        [m.n, m.s1, m.s2],
        [m.s1, m.s11 + lam, m.s12],
        [m.s2, m.s12, m.s22 + lam],
    ], dtype=float)
    b0, c1, c2 = np.linalg.solve(a, np.array([m.sy, m.s1y, m.s2y], dtype=float))
    rows = duck_df(sf_dir, f"SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem WHERE {score_where}")
    rows["prediction"] = b0 + c1 * rows.l_quantity + c2 * rows.l_discount
    rows.attrs["coef"] = (b0, c1, c2)
    return rows


def check_ridge_predict(got: pd.DataFrame, want: pd.DataFrame) -> Optional[str]:
    if len(got) != len(want):
        return f"row count {len(got)} != reference {len(want)}"
    keys = ["l_orderkey", "l_linenumber", "prediction"]
    g = got[keys].sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want[keys].sort_values(keys, kind="mergesort").reset_index(drop=True)
    if not (g.l_orderkey.to_numpy() == w.l_orderkey.to_numpy()).all():
        return "scored row keys differ from the reference"
    if not close(g.prediction, w.prediction, rtol=1e-6, atol=1e-6):
        err = float(np.max(np.abs(g.prediction.to_numpy() - w.prediction.to_numpy())))
        return f"ridge predictions differ from the numpy solve by up to {err:g}"
    return None


def weighted_f1(y: np.ndarray, p: np.ndarray) -> float:
    """MLlib's multiclass ``f1``: per-label F1 weighted by label share."""
    total = 0.0
    for lab in np.unique(y):
        tp = float(np.sum((p == lab) & (y == lab)))
        fp = float(np.sum((p == lab) & (y != lab)))
        fn = float(np.sum((p != lab) & (y == lab)))
        f1 = 0.0 if tp == 0 else 2 * tp / (2 * tp + fp + fn)
        total += f1 * np.mean(y == lab)
    return total


def check_evaluate(metrics: dict, scored: pd.DataFrame, label: str) -> Optional[str]:
    """EVALUATE's accuracy and f1 recomputed in numpy from the fetched
    PREDICT output of the same model version on the same rows."""
    y = scored[label].to_numpy(dtype=float)
    p = scored["prediction"].to_numpy(dtype=float)
    want = {"accuracy": float(np.mean(y == p)), "f1": weighted_f1(y, p)}
    for k, v in want.items():
        if k not in metrics or not close(metrics[k], v, rtol=1e-9, atol=1e-12):
            return f"EVALUATE {k}={metrics.get(k)} but numpy on PREDICT output gives {v}"
    return None


def check_exact_dedup(got: pd.DataFrame, sf_dir: str) -> Optional[str]:
    want = duck_df(sf_dir, r"""
        SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
               COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        FROM documents GROUP BY 1""")
    cols = ["fingerprint", "n_docs", "canonical_id"]
    if not normalize(got[cols]).equals(normalize(want[cols])):
        return "exact DEDUPLICATE groups differ from DuckDB's md5 grouping"
    return None


def check_profile(got: pd.DataFrame, sf_dir: str, table: str, cols: list[str]) -> Optional[str]:
    for c in cols:
        row = got[got.col_name == c]
        if len(row) != 1:
            return f"PROFILE has {len(row)} rows for {c}"
        r = row.iloc[0]
        w = duck_df(sf_dir, f"SELECT COUNT({c}) AS n, MIN({c})::DOUBLE AS mn, MAX({c})::DOUBLE AS mx, AVG({c})::DOUBLE AS av FROM {table}").iloc[0]
        if int(r.n) != int(w.n) or not close([r.mn, r.mx], [w.mn, w.mx]) or not close(r.avg_val, w.av, rtol=1e-6, atol=1e-6):
            return f"PROFILE {c}: got n={r.n} mn={r.mn} mx={r.mx} avg={r.avg_val}, DuckDB {w.to_dict()}"
        hist = [int(x) for x in str(r["hist"]).split(",") if x != ""]
        if sum(hist) != int(w.n):
            return f"PROFILE {c}: histogram holds {sum(hist)} of {int(w.n)} values"
    return None


def check_count(got: pd.DataFrame, col: Optional[str], want: int, what: str) -> Optional[str]:
    n = len(got) if col is None else int(got[col].sum())
    return None if n == want else f"{what}: {n} != {want}"


def check_mix(got: pd.DataFrame, sf_dir: str, by: str) -> Optional[str]:
    """MIX weights recomputed: n_docs per group from DuckDB, weight
    sqrt(n) / sum(sqrt(n)) in numpy (temperature 2)."""
    want = duck_df(sf_dir, f"SELECT {by}, COUNT(*) AS n FROM documents GROUP BY 1").set_index(by)["n"]
    g = got.set_index(by)
    if sorted(g.index) != sorted(want.index) or not (g["n_docs"].sort_index() == want.sort_index()).all():
        return "MIX group counts differ from DuckDB"
    w = np.sqrt(want.astype(float)) / np.sqrt(want.astype(float)).sum()
    if not close(g["temp_weight"].sort_index(), w.sort_index(), rtol=0, atol=1e-6):
        return "MIX temperature weights differ from sqrt(n) / sum(sqrt(n))"
    return None


def check_rate_anomalies(got: pd.DataFrame, sf_dir: str) -> Optional[str]:
    """Hourly event counts per type, from the third hour of each type
    on (the z-score needs two earlier hours), recomputed in DuckDB."""
    want = duck_df(sf_dir, """
        SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS h, n FROM (
            SELECT event_type, date_trunc('hour', ts) AS ts, COUNT(*) AS n,
                   row_number() OVER (PARTITION BY event_type ORDER BY date_trunc('hour', ts)) AS rn
            FROM events GROUP BY 1, 2) WHERE rn > 2""")
    g = pd.DataFrame({
        "event_type": got["event_type"],
        "h": pd.to_datetime(got["hour"]).astype("int64") // 10**9,
        "n": got["n"],
    })
    if not normalize(g).equals(normalize(want)):
        return "DETECT ANOMALIES hourly counts differ from DuckDB"
    return None
