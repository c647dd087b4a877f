"""Edge-case fixtures the sf fixtures don't cover.

Each test stages a tiny synthetic sf_dir (single-file parquet tables, the
same layout the real fixtures use) where a specific boundary condition
BINDS, and value-checks the registered query against its DuckDB oracle on
that dir — the same frames_match comparison the full-registry gate uses.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_queries_mod():
    spec = importlib.util.spec_from_file_location(
        "check_queries", os.path.join(_REPO, "tools", "check_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck(sf_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _run_pair(spark, sf_dir: str, name: str, tables: list[str]):
    from fraud_detection_etl_project_spark.plans import REGISTRY

    cq = _check_queries_mod()
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    odf = _duck(sf_dir, tables).execute(spec.oracle).fetchdf()
    err = cq.frames_match(sdf, odf)
    assert err is None, err
    return sdf


def test_concurrent_session_pairs_cap_binds(spark, tmp_path):
    """40 users all in one overlapping hour: the per-bucket cap (32) must
    BIND — C(32,2) = 496 pairs among the 32 kept users, not C(40,2) =
    780 — and the oracle replays the identical deterministic cap."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    for u in range(1, 41):
        rows.append((u * 2, t0, u, "view", 1.0, "{}"))
        rows.append((u * 2 + 1, t0 + dt.timedelta(minutes=10), u, "view", 1.0, "{}"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    sdf = _run_pair(spark, str(tmp_path), "concurrent_session_pairs_capped", ["events"])
    assert len(sdf) == 32 * 31 // 2
    # ties on session_start break by user_id: users 1..32 are kept
    assert set(sdf["user_a"]) | set(sdf["user_b"]) == set(range(1, 33))


def test_doc_trigram_novelty_short_docs(spark, tmp_path):
    """Documents with 1 and 2 tokens: sequence(1, size-2) is a DESCENDING
    [1, 0] for a 2-token doc and element_at would throw under ANSI mode
    (ADVICE r03) — the guarded expansion must instead drop short docs,
    exactly like the oracle's empty range(1, len-1)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
            "text": pa.array(
                ["one", "two tokens", "three word trigram here", "three word trigram there"],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["t"] * 4, pa.string()),
            "n_chars": pa.array([3, 10, 23, 24], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    sdf = _run_pair(spark, str(tmp_path), "doc_trigram_novelty", ["documents"])
    # docs 1 and 2 have no trigrams and must be absent, not crash the query
    assert set(sdf["doc_id"]) == {3, 4}


def test_holt_forecast_empty_series(spark, tmp_path):
    """An empty events table (ADVICE r08): slice(s, 2, size(s) - 1) gets
    a negative length when the collected series is empty — the guarded
    query must degrade to zero rows, matching the oracle, not throw."""
    tbl = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    sdf = _run_pair(spark, str(tmp_path), "daily_value_holt_forecast", ["events"])
    assert len(sdf) == 0


def test_heaps_vocab_growth_single_doc(spark, tmp_path):
    """One-document corpus: every prefix cut sees the same point, so the
    Heaps OLS denominator is zero — beta must be NULL on both engines,
    not a NaN-cast crash or divergence."""
    tbl = pa.table(
        {
            "doc_id": pa.array([0], pa.int64()),
            "text": pa.array(["alpha beta gamma alpha"], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["t"], pa.string()),
            "n_chars": pa.array([22], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    sdf = _run_pair(spark, str(tmp_path), "heaps_vocab_growth", ["documents"])
    assert len(sdf) == 10 and sdf["q_heaps_beta"].isna().all()


def test_ols_fit_degenerate_brand(spark, tmp_path):
    """A brand whose every lineitem has the same quantity (zero x
    variance): slope/intercept/r2 must be NULL on both engines, not a
    NaN-cast divergence; a healthy brand in the same fixture still fits."""
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "l_partkey": pa.array([1, 1, 2, 2, 2], pa.int64()),
            "l_quantity": pa.array([7.0, 7.0, 1.0, 2.0, 3.0], pa.float64()),
            "l_extendedprice": pa.array([10.0, 20.0, 5.0, 10.0, 15.0], pa.float64()),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array([1, 2], pa.int64()),
            "p_brand": pa.array(["CONST", "VARY"], pa.string()),
        }
    )
    pq.write_table(lineitem, str(tmp_path / "lineitem.parquet"))
    pq.write_table(part, str(tmp_path / "part.parquet"))
    sdf = _run_pair(
        spark, str(tmp_path), "ols_price_quantity_fit", ["lineitem", "part"]
    )
    by = sdf.set_index("brand")
    assert by.loc["CONST"][["slope_cents", "intercept_cents", "r2"]].isna().all()
    assert by.loc["VARY", "slope_cents"] == 500.0  # 5 cents/unit exact line


def test_embedding_pca_power_cancelling_row_sums(spark, tmp_path):
    """One embedding (1, -1, 0, ...): its moment matrix S is nonzero but
    every row sum of S cancels, so the first power step's normalizer m1 is
    0. The query must emit its empty frame (as for an all-zero table), not
    divide by zero into NaN/inf pc1."""
    emb = [1.0, -1.0] + [0.0] * 62
    tbl = pa.table(
        {
            "vec_id": pa.array([1], pa.int64()),
            "embedding": pa.array([emb], pa.list_(pa.float32())),
            "label": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    from fraud_detection_etl_project_spark.plans import REGISTRY

    rows = REGISTRY["embedding_pca_power"].fn(spark, str(tmp_path)).collect()
    assert rows == []
