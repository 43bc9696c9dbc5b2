"""Output check: each query's rows against its DuckDB oracle.

The comparison is the one ``assert_matches_oracle`` in
``tests/oracle_utils.py`` makes, with its canonical rows: equal column
names, equal row counts, no integer-versus-float dtype skew between the
two sides, and equal multisets of canonicalized rows. It returns the
first difference instead of raising, so every query gets a verdict.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from protarrow_spark.sources.tables import TABLE_NAMES
from tests.oracle_utils import canonical_rows


def connect(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per input table."""
    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 2})
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``exp``, else the first difference."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs {len(exp)}"
    for c in got.columns:
        kinds = {got[c].dtype.kind, exp[c].dtype.kind}
        if "f" in kinds and kinds & {"i", "u"}:
            return f"dtype-kind skew on {c}: {got[c].dtype} vs {exp[c].dtype}"
    for g, e in zip(canonical_rows(got), canonical_rows(exp)):
        if g != e:
            return f"row {g!r} vs {e!r}"
    return None
