"""The declared harness queries that run the extras, checked against
their DuckDB twins (`__spark_entry__.oracle_sql`) with the comparison
`tools/check_harness.py` uses, on the sf0.001 harness tables
(TESTDATA.md). `multimodal_features` has no twin: its row count and
columns are checked."""

import os

import pytest

import __spark_entry__ as entrymod
from tools.check_harness import TABLES, compare

SF_DIR = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"harness tables absent: {SF_DIR}"
)

ORACLE_CHECKED = (
    "shingle_stats", "token_counts", "simhash", "quality_scores", "lang_id",
    "fingerprints", "quality_by_lang",
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_extras_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entrymod.oracle_sql()[name])
    drows = res.fetchall()
    assert srows, f"{name} returned no rows"
    err = compare(name, srows, sdf.columns, drows,
                  [d[0] for d in res.description])
    assert err is None, f"{name}: {err}"


def test_multimodal_features_rows_and_columns(spark):
    from indexer_spark.extras.multimodal import FEATURE_DIM

    assert "multimodal_features" not in entrymod.oracle_sql()
    sdf = entrymod.queries()["multimodal_features"](spark, SF_DIR)
    assert sdf.columns == ["asset_id", "kind", "n_bytes",
                           *[f"f{i}" for i in range(FEATURE_DIM)]]
    rows = sdf.collect()
    assert len(rows) == 64
    assert len({r["asset_id"] for r in rows}) == 64
