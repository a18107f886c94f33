"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from trisk_spark.session import get_spark

SF_DIR = os.environ.get("TRISK_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session", autouse=True)
def _temp_dirs(tmp_path_factory):
    """Checkpoints, staged sources and the other temp directories the
    library makes go under pytest's base temp, which pytest prunes,
    not into the host's temp dir."""
    base = tmp_path_factory.mktemp("trisk")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TRISK_CHECKPOINT_BASE", str(base))
        mp.setattr(tempfile, "tempdir", str(base))
        yield base


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup
    s = get_spark("trisk-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    def make(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con

    cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def get(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
        if sf_dir not in cons:
            cons[sf_dir] = make(sf_dir)
        return cons[sf_dir]

    yield get
    for c in cons.values():
        c.close()


def normalize(rows, columns):
    """Sort columns by name and rows by value — the driver's
    order-insensitive compare."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(columns), sorted(out, key=repr)


def assert_matches_oracle(sdf, duck_con, sql: str):
    """Compare a Spark DataFrame against DuckDB oracle output exactly."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck_con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]
    sc, sr = normalize(srows, scols)
    dc, dr = normalize(drows, dcols)
    assert sc == dc, f"column mismatch: spark={sc} duck={dc}"
    assert len(sr) == len(dr), f"row count: spark={len(sr)} duck={len(dr)}"
    mismatches = [
        (a, b) for a, b in zip(sr, dr) if a != b
    ]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
