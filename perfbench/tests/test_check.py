"""A corrupted output is flagged, by the oracle check and by the fingerprint."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from check import OracleChecker, fingerprint
from gen import generate
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def _checker(tmp_path: Path) -> tuple[OracleChecker, object]:
    w = WORKLOADS["dedup"]
    generate(tmp_path, 1, w.corpus)
    return OracleChecker(ROOT, tmp_path), pq.read_table(tmp_path / "nation.parquet").to_pandas()


def test_oracle_check_accepts_the_right_rows_in_any_order(tmp_path):
    checker, nation = _checker(tmp_path)
    try:
        assert checker.check(nation.iloc[::-1].reset_index(drop=True), SQL) == []
    finally:
        checker.close()


def test_oracle_check_flags_a_changed_value_and_a_lost_row(tmp_path):
    checker, nation = _checker(tmp_path)
    try:
        changed = nation.copy()
        changed.loc[3, "n_name"] = "NATION_X"
        assert checker.check(changed, SQL)
        assert checker.check(nation.iloc[1:], SQL)
    finally:
        checker.close()


def test_fingerprint_ignores_order_and_catches_corruption(spark):
    rows = [(1, "a", {"k": 1}), (2, "b", {"k": 2, "j": 3}), (3, "c", {})]
    schema = "id long, s string, m map<string,int>"
    base = fingerprint(spark.createDataFrame(rows, schema))
    assert fingerprint(spark.createDataFrame(rows[::-1], schema)) == base
    assert fingerprint(spark.createDataFrame([(1, "a", {"k": 1}), (2, "b", {"j": 3, "k": 2}),
                                              (3, "c", {})], schema)) == base
    corrupt = [(1, "a", {"k": 1}), (2, "B", {"k": 2, "j": 3}), (3, "c", {})]
    assert fingerprint(spark.createDataFrame(corrupt, schema)) != base
    assert fingerprint(spark.createDataFrame(rows[:2], schema)) != base
