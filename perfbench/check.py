"""Forcing action and output check.

Every op is forced with :func:`fingerprint`: one Spark aggregate that reads
every output column, the way a sink would (``.count()`` would let Catalyst
prune columns a real consumer pays for). The fingerprint is a row count and
a sum of ``xxhash64`` over all columns, so it is insensitive to row order.
Map columns have no hash; they are hashed as their sorted entry arrays.

The check compares an op's collected output with its registered DuckDB
oracle through ``tools/selfcheck.py``'s ``compare`` (same normalization as
the repo's own correctness gate), imported, not copied.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_similarity_join_spark.sources.loader import TABLES


def _hashable(field: T.StructField):
    col = F.col(f"`{field.name}`")
    if isinstance(field.dataType, T.MapType):
        return F.array_sort(F.map_entries(col))
    return col


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(rows, sum of per-row xxhash64) computed in one Spark job."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*map(_hashable, df.schema.fields)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class OracleChecker:
    """DuckDB views over one input directory, and the comparison."""

    def __init__(self, root: Path, data_dir: Path):
        import duckdb

        if str(root / "tools") not in sys.path:
            sys.path.insert(0, str(root / "tools"))
        from selfcheck import compare

        self._compare = compare
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, spark_pdf, oracle_sql: str) -> list[str]:
        """Problems found comparing the op's output with the oracle's."""
        try:
            expected = self._con.execute(oracle_sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a finding
            return [f"duckdb raised {type(e).__name__}: {e}"]
        return self._compare(spark_pdf, expected)

    def close(self) -> None:
        self._con.close()
