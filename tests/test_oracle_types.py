"""Registry-wide oracle type audit: every ``oracle_sql()`` text must
describe to type-stable output columns on DuckDB. DuckDB widens
``sum`` over BIGINT to HUGEINT (and some integer maths to DECIMAL)
where Spark keeps BIGINT, so the rows compare equal but the value hash
of the two engines does not; the oracle must cast those columns."""

from __future__ import annotations

import duckdb

import __spark_entry__ as entrymod
from tools.check_oracle import TABLES

DRIFT_TYPES = ("HUGEINT", "DECIMAL")


def test_oracle_output_columns_have_no_hugeint_or_decimal(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    drift = []
    for name, sql in entrymod.oracle_sql().items():
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
            if typ.startswith(DRIFT_TYPES):
                drift.append(f"{name}.{col}: {typ}")
    assert not drift, drift
