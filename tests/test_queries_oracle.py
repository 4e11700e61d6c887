"""Local replica of the driver's correctness gate: every queries() entry runs
in Spark AND its oracle_sql() runs in DuckDB over the same sf0.001 parquet;
row-count + column names + order-insensitive stringified values must match.
The ANN queries run again over sf0.1, whose corpus spans several Arrow
batches.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import micro_lab_ocr_spark.queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm_cell(v) -> str:
    """Dtype-STRICT normalization mirroring the driver's hash: both engines
    go through pandas, and an int64 column on one side vs a float64 on the
    other (e.g. DuckDB HUGEINT→float64) must MISMATCH here exactly like it
    does at the driver gate (round-1 `w4_running_count` lesson)."""
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NULL"
        return "f:" + repr(round(float(v), 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return "i:" + str(int(v))
    return str(v)


def _normalize(pdf):
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = pdf.itertuples(index=False, name=None)
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def _assert_matches(spdf, dpdf, name):
    s_cols, s_norm = _normalize(spdf)
    d_cols, d_norm = _normalize(dpdf)
    assert s_cols == d_cols, f"{name}: columns {s_cols} != {d_cols}"
    assert len(s_norm) == len(d_norm), f"{name}: rows {len(s_norm)} != {len(d_norm)}"
    mism = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:3]
    assert not mism, f"{name}: first value mismatches {mism}"


@pytest.mark.parametrize("name", sorted(Q.queries_dict()))
def test_query_matches_oracle(spark, ddb, name):
    spdf = Q.queries_dict()[name](spark, SF_DIR).toPandas()
    _assert_matches(spdf, ddb.execute(Q.oracle_sql_dict()[name]).fetch_df(), name)


@pytest.mark.parametrize(
    "name", ["ann_brute_cosine_topk", "ann_ivf_cosine_topk", "ann_lsh_cosine_topk"]
)
def test_ann_matches_oracle_across_batches(spark, name):
    """The ANN kernel keeps each Arrow batch's per-query top-k and the
    window ranks their union. sf0.001's 500 vectors fit in one batch, so
    the merge is checked on sf0.1's 2,000 (several batches)."""
    sf_dir = "/root/testdata/sf0.1"
    path = f"{sf_dir}/embeddings.parquet"
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert spark.read.parquet(path).count() > 2 * batch
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    spdf = Q.queries_dict()[name](spark, sf_dir).toPandas()
    _assert_matches(spdf, con.execute(Q.oracle_sql_dict()[name]).fetch_df(), name)
