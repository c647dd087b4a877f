"""Untimed correctness checks.

- Registered queries: the Spark result against the query's registered
  DuckDB oracle SQL, through the repo's own harness helpers
  (``tools/check_queries.duck_con`` / ``frames_match``).
- Fraud ingest: the snapshot table and every periodic read against a
  pandas recomputation of the reference semantics: half-even rounding
  (``bround``) in the balance-validity filter, the fraud filter cascaded
  on it, all 11 columns kept.
"""

from __future__ import annotations

import functools
import io
import json
import os
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd

from fraud_detection_etl_project_spark.schemas import TXN_COLUMNS


def oracle_results(sf_dir: str, specs) -> dict[str, pd.DataFrame]:
    """Each spec's registered DuckDB oracle SQL run over the inputs."""
    from tools.check_queries import duck_con

    con = duck_con(sf_dir)
    try:
        return {s.name: con.execute(s.oracle).fetchdf() for s in specs}
    finally:
        con.close()


def reference_fraud_rows(csv_paths: list[str]) -> pd.DataFrame:
    """The reference job on pandas: validity filter, then fraud filter.
    ``Series.round`` is half-even, as the reference's pandas code is."""
    if not csv_paths:
        return pd.DataFrame(columns=TXN_COLUMNS)
    # both filters are row by row, so filtering file by file and
    # concatenating equals filtering the concatenation
    parts = []
    for p in csv_paths:
        with open(p, "rb") as f:
            data = f.read()
        parts.append(_reference_fraud_rows_of(data))
    return pd.concat(parts, ignore_index=True)


@functools.lru_cache(maxsize=64)
def _reference_fraud_rows_of(data: bytes) -> pd.DataFrame:
    """One file's fraud rows, cached by content: every drain lands copies
    of the same files, and each periodic read checks a prefix of them."""
    df = pd.read_csv(io.BytesIO(data))
    valid = ((df.oldbalanceOrg - df.newbalanceOrig).round(2) >= df.amount) | (
        (df.oldbalanceDest + df.amount).round(2) >= df.newbalanceDest
    )
    df = df[valid]
    return df[(df.isFraud == 1) | (df.isFlaggedFraud == 1)][TXN_COLUMNS]


def fraud_by_type(rows: pd.DataFrame) -> dict[str, tuple[int, int]]:
    """``type -> (rows, amount in cents)``: what each periodic read returns."""
    cents = pd.Series(np.rint(rows.amount.to_numpy() * 100).astype(np.int64), index=rows.index)
    g = cents.groupby(rows.type).agg(["size", "sum"])
    return {t: (int(r["size"]), int(r["sum"])) for t, r in g.iterrows()}


def batch_files(checkpoint_dir: str) -> dict[int, list[str]]:
    """Files each micro-batch read, from the file source's metadata log
    (plain and compacted entries both carry their batch id)."""
    log = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[int, list[str]] = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        for line in lines:
            e = json.loads(line)
            out.setdefault(int(e["batchId"]), []).append(unquote(urlparse(e["path"]).path))
    return {b: sorted(set(p)) for b, p in out.items()}
