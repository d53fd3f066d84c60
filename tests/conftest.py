from __future__ import annotations

import os

import duckdb
import pytest

from orange3_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# The replay-oracle generators (plans/oracle_replay.py) fetch their fit
# samples from $SPARK_GRAFT_SF_DIR — point them at the SAME dir the tests
# query, or every replayed fit would be trained on different data than
# the Spark path under test.
os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("orange3-spark-tests")
    yield s


@pytest.fixture
def no_local_twins(monkeypatch):
    """Context manager that sends every bounded local twin down its
    distributed path: inside ``with no_local_twins():`` the
    ``session.fetch_local`` budget is 0 rows and 0 cells."""
    import contextlib

    from orange3_spark import session

    @contextlib.contextmanager
    def off():
        with monkeypatch.context() as m:
            m.setattr(session, "LOCAL_CELLS", 0)
            m.setattr(session, "LOCAL_ROWS", 0)
            yield

    return off


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def normalize(rows, colnames):
    """Order-insensitive, column-name-sorted, float-rounded canonical form —
    mirrors the driver's comparison (FIXTURES.md oracle notes)."""
    import datetime
    import math

    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return float(f"{v:.9g}")
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        return v

    # key=repr: None-safe total order, identical on both engines' outputs
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


def assert_matches_oracle(spark_df, ddb_con, sql):
    got_cols = spark_df.columns
    got = [tuple(r) for r in spark_df.collect()]
    res = ddb_con.execute(sql)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    assert sorted(got_cols) == sorted(want_cols), (
        f"column mismatch: {sorted(got_cols)} vs {sorted(want_cols)}")
    g, w = normalize(got, got_cols), normalize(want, want_cols)
    assert len(g) == len(w), f"row count {len(g)} vs {len(w)}"
    assert g == w


def plan_leaves(df) -> set:
    """Node names of the leaves of ``df``'s analyzed logical plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}
