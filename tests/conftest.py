import os

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from nativeextractor_spark.session import get_spark

    spark = get_spark("nativeextractor-tests", shuffle_partitions=4)
    yield spark


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def oracle_replay():
    """``oracle_replay(df, sql, docs)`` -> (spark rows, oracle rows): runs
    the DuckDB oracle query ``sql`` with ``docs`` ((doc_id, text) tuples)
    registered as the ``documents`` view, collects ``df``, and returns
    both in the local contract gate's comparison form
    (tools/check_contract.normalize: order-insensitive, floats at 6
    decimals, columns by name)."""
    import sys

    import duckdb
    import pandas as pd

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.check_contract import normalize

    def replay(df, sql, docs):
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
        res = con.execute(sql)
        want = normalize(res.fetchall(), [d[0] for d in res.description])
        got = normalize([tuple(r) for r in df.collect()], df.columns)
        return got, want

    return replay
