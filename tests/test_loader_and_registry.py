"""Loader schema conformance + registry contract tests."""

from __future__ import annotations

from hive_similarity_join_spark.registry import ORACLES, QUERIES, load_registry
from hive_similarity_join_spark.sources.loader import SCHEMAS, TABLES, load_all, load_table
from tests.conftest import SF_SMOKE


def test_all_tables_load_with_declared_schema(spark):
    def fields(d):
        return [(f.name, f.dataType, f.nullable) for f in d.schema.fields]

    def rows(d):
        return sorted((tuple(r) for r in d.collect()), key=repr)

    dfs = load_all(spark, SF_SMOKE)
    for name, df in dfs.items():
        declared = {f.name: f.dataType.simpleString() for f in SCHEMAS[name].fields}
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert actual == declared, f"{name}: {actual} != {declared}"
        if name == "events":  # read by inference (two physical formats)
            continue
        # The schema-given read must be exactly the inferred read: same
        # ordered (name, type, nullability) fields and the same rows.
        inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet")
        assert fields(df) == fields(inferred), name
        got = rows(df)
        assert got == rows(inferred) and got, name


def test_events_ts_is_microsecond_timestamp(spark):
    e = load_table(spark, SF_SMOKE, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    row = e.selectExpr("min(ts) AS lo", "max(ts) AS hi").collect()[0]
    assert row.lo.year == 2024 and row.hi.year == 2024


def test_registry_contract(spark):
    load_registry()
    assert len(QUERIES) >= 50
    # every oracle belongs to a registered query
    assert set(ORACLES) <= set(QUERIES)
    # spot-run one cheap key end-to-end through the registry
    df = QUERIES["q_agg_groupby"](spark, SF_SMOKE)
    cols = set(df.columns)
    assert {"l_returnflag", "l_linestatus", "sum_qty", "cnt"} <= cols


def test_priority_window_resolves():
    """Every PRIORITY name must be a registered key (a typo would
    silently shift the driver's 50-key CORRECTNESS window), the head
    must be duplicate-free, and it must fill the full 50-key window."""
    from hive_similarity_join_spark.registry import PRIORITY, ordered

    load_registry()
    assert set(PRIORITY) <= set(QUERIES), sorted(set(PRIORITY) - set(QUERIES))
    assert len(PRIORITY) == len(set(PRIORITY))
    assert len(PRIORITY) >= 50
    head = list(ordered(QUERIES))[: len(PRIORITY)]
    assert head == PRIORITY


def test_view_registration(spark):
    from hive_similarity_join_spark.sources.loader import register_views

    register_views(spark, SF_SMOKE)
    got = spark.sql("SELECT count(*) AS c FROM lineitem").collect()[0].c
    assert got == 6000
    assert set(TABLES) <= {t.name for t in spark.catalog.listTables()}


def test_events_loader_handles_both_ts_physical_types(spark, tmp_path):
    """The driver's testdata has shipped events.ts as TIMESTAMP(NANOS)
    (rounds 1-2) and TIMESTAMP(MICROS) (rounds 3-4); the loader keeps a
    leg for each. The MICROS leg is exercised by every events key on
    current testdata — this pins the NANOS leg so a flip back never
    lands on dead code."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_similarity_join_spark.sources.loader import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [
        r.micros
        for r in df.selectExpr("unix_micros(ts) AS micros")
        .orderBy("event_id")
        .collect()
    ]
    assert got == micros


def test_round17_correctness_window_composition():
    """The driver grades the FIRST 50 keys in queries() insertion
    order. Round-17 contract (optimization round — no new keys): the
    window is spent on restructured-path keys without a post-change
    driver stamp. Head: 15 r17 logic-changed paths (canonical simhash
    filter + shared fingerprints, shared MinHash signatures, SNM
    int-rank verify, substring window-df, fuzzy-decon shared sigs,
    weighted-trio shared sorted relation, the ensemble over the
    changed generators), then 14 r17 checkpoint-moved keys (ELSH graph,
    nine ANN top-k legs + recall dashboard, ensemble representatives),
    then 21 r16-restructured keys from the r16 VERDICT item-7 list
    (representatives/cluster_sizes, the dictionary-shared measure keys,
    the WP/BPE/unigram consumer families, the two pipeline consumers).
    All 50 re-verified bit-exact tuned AND plain at sf0.01 this round.
    A PRIORITY edit that accidentally reorders the window fails here,
    loudly."""
    from hive_similarity_join_spark.registry import PRIORITY, QUERIES, ordered

    load_registry()
    head = list(ordered(QUERIES))[:50]
    # Spot-pin the stage boundaries so an off-by-one is loud.
    assert head[0] == "q_text_simhash"
    assert head[14] == "q_dedup_blocking_ensemble"
    assert head[15] == "q_dedup_embedding_lsh"
    assert head[27] == "q_vec_ann_recall"
    assert head[28] == "q_dedup_ensemble_representatives"
    assert head[29] == "q_dedup_representatives"
    assert head[49] == "q_pipeline_llm_corpus"
    assert head == PRIORITY[:50]


def test_get_spark_applies_shuffle_conf_on_reused_session(spark):
    """getOrCreate() on a process with an existing session ignores
    builder configs; get_spark must still honor the caller's shuffle
    sizing via a runtime set (the r4/r5 driver-bench 2.5x on
    explicitly-repartitioned keys traced to exactly this silent
    conf drop)."""
    from hive_similarity_join_spark.session import get_spark

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(shuffle_partitions=7)
        assert s is spark  # same JVM session reused
        assert s.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_get_spark_from_fresh_thread_respects_owner_conf(spark):
    """getActiveSession() is thread-local but getOrCreate() reuses the
    process-global session: a get_spark() call from a thread that never
    activated the session must still see it as pre-existing and leave
    the owner's shuffle sizing alone (ADVICE r6 — the old code clobbered
    it with the local default)."""
    import threading

    from hive_similarity_join_spark.session import get_spark

    old = spark.conf.get("spark.sql.shuffle.partitions")
    res = {}

    def worker():
        s = get_spark()  # no explicit request
        res["same"] = s is spark
        res["shuffle"] = s.conf.get("spark.sql.shuffle.partitions")

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "77")
        t = threading.Thread(target=worker)
        t.start()
        t.join()
        assert res == {"same": True, "shuffle": "77"}, res
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_parallelism_ignores_session_shuffle_conf(spark):
    """Explicit candidate-join repartition counts must track hardware
    (sc.defaultParallelism), not the generic shuffle sizing knob — the
    root cause of the r4/r5 driver-bench gap (see
    operators/partitions.py)."""
    from hive_similarity_join_spark.operators.partitions import parallelism

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert parallelism(spark) == spark.sparkContext.defaultParallelism
        assert parallelism(spark) != 200
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
