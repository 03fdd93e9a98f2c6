"""The oracle gate's column-type detector (scripts/check_oracle.py):
an un-CAST integer sum() types HUGEINT in DuckDB, which the driver's
type-sensitive value hash cannot match against an int64 Spark column.
The detector must read real column types and fail such an oracle."""

import importlib.util
import os

import duckdb

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "check_oracle.py")
_spec = importlib.util.spec_from_file_location("check_oracle", _SCRIPT)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def test_sum_oracle_flagged_and_cast_passes():
    con = duckdb.connect()
    raw = check_oracle.oracle_types(con, "SELECT sum(1) AS n")
    assert raw == {"n": "HUGEINT"}
    problems = check_oracle.type_problems(raw, {"n": "bigint"})
    assert problems and "HUGEINT" in problems[0]
    cast = check_oracle.oracle_types(
        con, "SELECT CAST(sum(1) AS BIGINT) AS n")
    assert check_oracle.type_problems(cast, {"n": "bigint"}) == []


def test_type_divergence_flagged():
    con = duckdb.connect()
    types = check_oracle.oracle_types(con, "SELECT 1.5::DOUBLE AS x")
    assert check_oracle.type_problems(types, {"x": "bigint"})
    assert check_oracle.type_problems(types, {"x": "double"}) == []


def test_text_logit_oracle_types(sf_dir):
    """The text_logit_train oracle's confusion counts type BIGINT."""
    from lucene_solr_spark.streaming.mlstreams import _tlogit_oracle_sql

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    types = check_oracle.oracle_types(con, _tlogit_oracle_sql())
    assert {types[c] for c in ("tp", "fp", "tn", "fn")} == {"BIGINT"}
    assert check_oracle.type_problems(
        types, {c: "bigint" for c in ("tp", "fp", "tn", "fn")}) == []
