"""Materialization: lineage, idempotent resume, dedup-on-write, rollback
(north rule: per-partition lineage + row-count metrics, idempotent resume)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tab2neo_spark.datagen import pages_from_documents
from tab2neo_spark.kg.construct import construct_kg
from tab2neo_spark.kg.materialize import GraphStore, materialize_kg


def _mk_kg(spark, sf_dir, n=80):
    pages = pages_from_documents(spark, sf_dir).limit(n)
    return construct_kg(spark, pages, unique_urls=True)


def test_materialize_and_lineage(spark, sf_dir):
    kg = _mk_kg(spark, sf_dir)
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        res = materialize_kg(store, kg, run_id="r1")
        assert res["nodes"]["status"] == "done"
        assert res["nodes"]["row_count"] == store.read("nodes").count()
        # per-partition histogram sums to the row count
        assert sum(res["triples"]["partitions"].values()) == res["triples"]["row_count"]
        # partition layout serves readback pruning
        assert store.read("nodes").filter(F.col("class") == "Page").count() == 80


def test_resume_skips_done_stages(spark, sf_dir):
    kg = _mk_kg(spark, sf_dir)
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        r1 = materialize_kg(store, kg, run_id="r1")
        n1 = store.read("triples").count()
        # resume with same run_id: all stages skip, tables unchanged
        r2 = materialize_kg(store, kg, run_id="r1")
        assert store.read("triples").count() == n1
        assert r2["triples"]["ts"] == r1["triples"]["ts"]  # untouched checkpoint


def test_dedup_on_write_is_idempotent_across_runs(spark, sf_dir):
    """A second run over overlapping input must not duplicate rows —
    deterministic ids + anti-join dedup replace transactional MERGE."""
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r1")
        n_nodes = store.read("nodes").count()
        # r2 processes the same 80 pages again (e.g. crawl re-delivery)
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        assert store.read("nodes").count() == n_nodes
        assert store.read("nodes").select("node_id").distinct().count() == n_nodes


def test_incremental_run_appends_only_new(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 50), run_id="r1")
        n1 = store.read("triples").count()
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        n2 = store.read("triples").count()
        assert n2 > n1
        # every triple unique
        assert store.read("triples").select("subj", "pred", "obj").distinct().count() == n2


def test_rollback_run(spark, sf_dir):
    with tempfile.TemporaryDirectory() as root:
        store = GraphStore(spark, root)
        materialize_kg(store, _mk_kg(spark, sf_dir, 50), run_id="r1")
        n1 = store.read("triples").count()
        materialize_kg(store, _mk_kg(spark, sf_dir, 80), run_id="r2")
        store.rollback_run("r2", ["nodes", "edges", "triples"])
        assert store.read("triples").count() == n1
        assert {r["run_id"] for r in store.read("triples").select("run_id").distinct().collect()} == {"r1"}
        statuses = {c["stage"]: c["status"] for c in store.checkpoints("r2")}
        assert set(statuses.values()) == {"rolled_back"}


def test_write_stage_single_job(spark, tmp_path):
    """Lineage must ride on the write itself (df.observe + footer counts):
    exactly ONE Spark job per fresh write_stage — the old pre-write
    groupBy().count().collect() executed the stage DAG twice."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    df = spark.range(1000).select(
        F.col("id").alias("node_id"), F.lit("C").alias("class")
    )
    sc = spark.sparkContext
    sc.setJobGroup("ws_single_job", "write_stage job-count probe")
    try:
        payload = store.write_stage(df, "nodes", "r1", "nodes")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("ws_single_job")
    assert len(jobs) == 1, f"write_stage ran {len(jobs)} jobs, expected 1"
    assert payload["row_count"] == 1000
    # footer-derived histogram still sums to the observed count
    assert sum(payload["partitions"].values()) == 1000



def _store_state(store, table):
    """(rows, every file and directory under the table, checkpoints)."""
    import os

    path = store.path(table)
    files = sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, dirs, fs in os.walk(path) for f in fs + dirs
    )
    rows = sorted(tuple(r) for r in store.read(table).collect())
    return rows, files, store.checkpoints()


def test_keyed_upsert_with_declared_partitions_runs_at_most_two_jobs(spark, tmp_path):
    """A keyed upsert into an existing partitioned table costs at most the
    existing-keys broadcast and the write: no schema-inference job, no
    job over the batch to discover its partition values, no distinct on
    the existing keys."""
    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    store.write_stage(
        spark.createDataFrame([(1, "A", "a1"), (2, "A", "a2"), (3, "B", "b1")], schema),
        "nodes", "r1", "s1", partition_by=["class"], dedup_key=["node_id"],
    )
    batch = spark.createDataFrame([(1, "A", "a1"), (4, "A", "a4")], schema)
    sc = spark.sparkContext
    sc.setJobGroup("ws_upsert_jobs", "keyed upsert job-count probe")
    try:
        payload = store.write_stage(
            batch, "nodes", "r2", "s2", partition_by=["class"],
            dedup_key=["node_id"], partitions=["A"],
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("ws_upsert_jobs")
    assert len(jobs) <= 2, f"keyed upsert ran {len(jobs)} jobs, expected <= 2"
    assert payload["row_count"] == 1
    assert payload["dedup_scan_partitions"] == 1
    assert payload["partitions_written"] == ["A"]
    got = {(r["node_id"], r["class"]) for r in store.read("nodes").collect()}
    assert got == {(1, "A"), (2, "A"), (3, "B"), (4, "A")}


def test_undeclared_partition_value_raises_and_undoes_the_write(spark, tmp_path):
    """The declared partitions are verified on the write: a row landing in
    an undeclared partition raises, and the table's rows, its file set and
    the checkpoints are left exactly as before — so the corrected re-run is
    a real write, not a skipped resume."""
    import os

    store = GraphStore(spark, str(tmp_path / "g"))
    schema = "node_id long, class string, rdfs_label string"
    store.write_stage(
        spark.createDataFrame([(1, "A", "a1"), (3, "B", "b1")], schema),
        "nodes", "r1", "s1", partition_by=["class"], dedup_key=["node_id"],
    )
    before = _store_state(store, "nodes")
    batch = spark.createDataFrame([(1, "A", "a1"), (4, "A", "a4"), (5, "C", "c1")], schema)
    with pytest.raises(ValueError, match=r"undeclared class partitions \['C'\]"):
        store.write_stage(batch, "nodes", "r2", "s2", partition_by=["class"],
                          dedup_key=["node_id"], partitions=["A"])
    assert _store_state(store, "nodes") == before
    assert not store.stage_done("r2", "s2")

    payload = store.write_stage(batch, "nodes", "r2", "s2", partition_by=["class"],
                                dedup_key=["node_id"], partitions=["A", "C"])
    assert payload["row_count"] == 2
    assert payload["partitions_written"] == ["A", "C"]
    got = {(r["node_id"], r["class"]) for r in store.read("nodes").collect()}
    assert got == {(1, "A"), (3, "B"), (4, "A"), (5, "C")}

    # a first write into a fresh table leaves no table behind
    edges = spark.createDataFrame([(1, "HAS", 2)], "src long, rel_type string, dst long")
    with pytest.raises(ValueError, match="undeclared rel_type"):
        store.write_stage(edges, "edges", "r2", "e", partition_by=["rel_type"],
                          dedup_key=["src", "rel_type", "dst"], partitions=["LINKS"])
    assert not os.path.exists(store.path("edges"))
    assert store.table_partitioning("edges") == []


@pytest.mark.xfail(strict=True, reason="keyed upsert keeps the first writer; "
                   "a re-crawl must MERGE (latest warc_ts wins, stale edges go)")
def test_recrawl_upsert_keeps_latest_crawl(spark, tmp_path):
    import datetime

    from tab2neo_spark.schema import PAGES_SCHEMA

    t1, t2 = datetime.datetime(2024, 1, 11), datetime.datetime(2024, 3, 5)
    store = GraphStore(spark, str(tmp_path / "g"))
    for run_id, ts, html in (("build", t1, b"<p>spark join</p>"),
                             ("recrawl", t2, b"<p>spark</p>")):
        pages = spark.createDataFrame([("https://a/1", ts, html, None, "en")], PAGES_SCHEMA)
        kg = construct_kg(spark, pages, unique_urls=True)
        materialize_kg(store, kg, run_id=run_id)
        kg.unpersist()
    page = store.read("nodes").filter(F.col("class") == "Page").collect()
    join_id = spark.range(1).select(F.xxhash64(F.lit("Operator"), F.lit("join"))).first()[0]
    stale = store.read("edges").filter(F.col("dst") == join_id).count()
    assert ([p["props"]["warc_ts"] for p in page], stale) == (["2024-03-05 00:00:00"], 0)

def test_per_action_rollback(spark, tmp_path):
    """Changes-analog (action.py:1699-1749): revert ONE action's writes
    while keeping the other actions' nodes/edges."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    df = spark.createDataFrame(
        [("S1", "M"), ("S2", "F")], "Subject string, Sex string"
    )
    spec = {
        "name": "two_writes",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "assign_class", "class": "Sex", "value_column": "Sex"},
            {"type": "link", "relationship_type": "HAS_SEX",
             "from_id": "_id_Subject", "to_id": "_id_Sex"},
        ],
    }
    res = DerivationMethod(spark, spec, source_df=df).apply()
    assert res.node_actions == [1, 2] and res.edge_actions == [3]

    store = GraphStore(spark, str(tmp_path / "g"))
    write_method_result(store, res, "r1", "two_writes")
    assert store.read("nodes").count() == 4
    assert store.read("edges").count() == 2

    # revert only action 2 (the Sex class assignment)
    store.rollback_action("r1", 2, ["nodes", "edges"])
    nodes = store.read("nodes")
    assert nodes.count() == 2
    assert {r["class"] for r in nodes.collect()} == {"Subject"}
    # other actions' writes survive
    assert store.read("edges").count() == 2
    # that action's checkpoints are marked, others untouched
    by_stage = {c["stage"]: c["status"] for c in store.checkpoints("r1")}
    assert by_stage["two_writes__a2_nodes1"] == "rolled_back"
    assert by_stage["two_writes__a1_nodes0"] == "done"


def test_assign_label_rollback(spark, tmp_path):
    """Rolling back an assign_label action removes ONLY its extra labels
    (the reference's REMOVE instance:label inverse, action.py:1339-1376)."""
    from tab2neo_spark.kg.materialize import GraphStore, write_method_result
    from tab2neo_spark.pipeline.runner import DerivationMethod

    df = spark.createDataFrame([("S1",), ("S2",)], "Subject string")
    spec = {
        "name": "al",
        "actions": [
            {"type": "get_data"},
            {"type": "assign_class", "class": "Subject", "value_column": "Subject"},
            {"type": "assign_label", "class": "Enrolled", "on": "Subject"},
            {"type": "assign_label", "class": "Safety", "on": "Subject"},
        ],
    }
    res = DerivationMethod(spark, spec, source_df=df).apply()
    store = GraphStore(spark, str(tmp_path / "g"))
    write_method_result(store, res, "r1", "al")
    assert store.read("labels").count() == 4
    store.rollback_action("r1", 2, ["labels"])
    kept = store.read("labels")
    assert kept.count() == 2
    assert {r["extra_label"] for r in kept.collect()} == {"Safety"}


def test_bucketed_layout_zero_exchange_join(spark, tmp_path):
    """PLANS.md §4b made executable: two tables bucketed on the same key
    join with ZERO Exchange (broadcast and AQE disabled to isolate the
    bucketing effect)."""
    from tab2neo_spark.kg.materialize import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    edges_a = spark.range(10000).select(
        F.col("id").alias("src"), (F.col("id") % 97).alias("dst")
    )
    edges_b = spark.range(10000).select(
        F.col("id").alias("src"), (F.col("id") % 89).alias("w")
    )
    ta = store.write_bucketed(edges_a, "ea", ["src"], n_buckets=8)
    tb = store.write_bucketed(edges_b, "eb", ["src"], n_buckets=8)

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined = spark.table(ta).join(spark.table(tb), "src")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
