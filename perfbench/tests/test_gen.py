"""The generator is deterministic per seed and writes the testdata schemas."""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from gen import generate, measured_shares
from workloads import WORKLOADS

from hive_similarity_join_spark.sources.loader import SCHEMAS, TABLES


def _write(tmp_path: Path, name: str, seed: int) -> Path:
    w = WORKLOADS[name]
    out = tmp_path / f"{name}-{seed}"
    generate(out, seed, w.corpus)
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_identical_parquet(tmp_path, name):
    a, b = _write(tmp_path / "a", name, 7), _write(tmp_path / "b", name, 7)
    for t in TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes(), t


def test_other_seed_gives_other_corpus(tmp_path):
    a, b = _write(tmp_path, "simjoin", 1), _write(tmp_path, "simjoin", 2)
    for t in ("documents", "embeddings", "lineitem", "events"):
        assert (a / f"{t}.parquet").read_bytes() != (b / f"{t}.parquet").read_bytes(), t


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_columns_match_the_loader_schemas(tmp_path, name):
    out = _write(tmp_path, name, 3)
    for t in TABLES:
        got = pq.read_schema(out / f"{t}.parquet").names
        assert got == [f.name for f in SCHEMAS[t].fields], t


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF_DIR"),
    reason="set SPARK_GRAFT_SF_DIR to a testdata directory to compare physical schemas",
)
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_physical_schemas_equal_the_testdata(tmp_path, name):
    ref = Path(os.environ["SPARK_GRAFT_SF_DIR"])
    out = _write(tmp_path, name, 3)
    for t in TABLES:
        want = pq.read_schema(ref / f"{t}.parquet").remove_metadata()
        got = pq.read_schema(out / f"{t}.parquet").remove_metadata()
        assert got.equals(want), f"{t}: {got} != {want}"


def test_foreign_keys_reference_existing_rows(tmp_path):
    out = _write(tmp_path, "dedup", 5)
    col = lambda t, c: set(pq.read_table(out / f"{t}.parquet", columns=[c])[c].to_pylist())  # noqa: E731
    assert col("orders", "o_custkey") <= col("customer", "c_custkey")
    assert col("lineitem", "l_orderkey") <= col("orders", "o_orderkey")
    assert col("lineitem", "l_partkey") <= col("part", "p_partkey")
    assert col("lineitem", "l_suppkey") <= col("supplier", "s_suppkey")
    assert col("customer", "c_nationkey") <= col("nation", "n_nationkey")


def test_planted_rows_are_measurable(tmp_path):
    shares = measured_shares(_write(tmp_path, "simjoin", 4))
    assert shares["near_dup_share"] > 0.03
    assert shares["excerpt_share"] > 0.02
