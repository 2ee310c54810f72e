"""End-to-end KG construction vs the pandas oracle (BASELINE: P/R >= 0.95;
exact equality asserted at small scale, cf. FIXTURES.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tab2neo_spark.datagen import pages_from_documents
from tab2neo_spark.kg.canon import canonical_map, connected_components
from tab2neo_spark.kg.construct import construct_kg
from tab2neo_spark.kg.oracle import canonical_lookup, oracle_triples, precision_recall


def test_connected_components_basic(spark):
    # two components: chain a-b-c-d and pair x-y; singleton via self-edge z-z
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("z", "z")], "src string, dst string"
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"), ("z", "z"),
    }


def test_canonical_map_matches_union_find(spark):
    from tab2neo_spark.model.gazetteer import same_as_df

    cm = {r["surface"]: r["canonical"] for r in canonical_map(same_as_df(spark)).collect()}
    assert cm == canonical_lookup()


def test_kg_triples_exact_vs_oracle(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).limit(200).cache()
    kg = construct_kg(spark, pages)
    got = {(r["subj"], r["pred"], r["obj"]) for r in kg.triples.collect()}
    pdf = pages.select("url", "html").toPandas()
    pdf["html"] = pdf["html"].map(bytes)
    expected = oracle_triples(pdf)
    p, r = precision_recall(got, expected)
    # small scale: exact agreement, far above the 0.95 gate
    assert (p, r) == (1.0, 1.0), (p, r, len(got), len(expected))
    pages.unpersist()


def test_kg_nodes_and_edges_consistency(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).limit(100)
    kg = construct_kg(spark, pages)
    nodes = kg.nodes.cache()
    # deterministic ids: node_id == xxhash64(class, rdfs_label) and unique
    n = nodes.count()
    assert nodes.select("node_id").distinct().count() == n
    recomputed = nodes.filter(
        F.xxhash64("class", "rdfs_label") != F.col("node_id")
    ).count()
    assert recomputed == 0
    # referential integrity: every edge endpoint is a node
    ids = nodes.select("node_id")
    dangling = (
        kg.edges.join(ids, kg.edges.src == ids.node_id, "left_anti").count()
        + kg.edges.join(ids, kg.edges.dst == ids.node_id, "left_anti").count()
    )
    assert dangling == 0
    nodes.unpersist()


def test_kg_duplicate_url_single_page_node(spark):
    """A url crawled twice (FIXTURES.md §5) yields one Page node; null/empty/
    malformed html must not break the pipeline."""
    import datetime

    from tab2neo_spark.schema import PAGES_SCHEMA

    rows = [
        ("https://a/1", datetime.datetime(2024, 1, 1), None, None, "en"),
        ("https://a/2", datetime.datetime(2024, 1, 1), b"", None, "en"),
        ("https://a/3", datetime.datetime(2024, 1, 1), b"<p>\xff spark join</p>", None, "en"),
        ("https://a/3", datetime.datetime(2024, 1, 2), b"<p>spark merge</p>", None, "en"),
    ]
    kg = construct_kg(spark, spark.createDataFrame(rows, PAGES_SCHEMA))
    nodes = kg.nodes.cache()
    assert nodes.count() == nodes.select("node_id").distinct().count() == 6
    nodes.unpersist()


def test_kg_idempotent_rerun(spark, sf_dir):
    """Re-running construction yields the identical graph (deterministic ids
    replace Neo4j MERGE idempotency — SURVEY §7 'MERGE without transactions')."""
    pages = pages_from_documents(spark, sf_dir).limit(100)
    t1 = {(r["subj"], r["pred"], r["obj"]) for r in construct_kg(spark, pages).triples.collect()}
    t2 = {(r["subj"], r["pred"], r["obj"]) for r in construct_kg(spark, pages).triples.collect()}
    assert t1 == t2 and len(t1) > 0


def test_triple_pr_at_scale(spark):
    """BASELINE gate: P/R >= 0.95 vs the reference-semantics oracle at the
    5k-document scale (FIXTURES.md §4). Run against sf0.1 regardless of the
    unit-test SF so the scale is real."""
    pages = pages_from_documents(spark, "/root/testdata/sf0.1").cache()
    kg = construct_kg(spark, pages, unique_urls=True)
    got = {(r["subj"], r["pred"], r["obj"]) for r in kg.triples.collect()}
    pdf = pages.select("url", "html").toPandas()
    pdf["html"] = pdf["html"].map(bytes)
    expected = oracle_triples(pdf)
    p, r = precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # in fact exact:
    assert (p, r) == (1.0, 1.0)
    pages.unpersist()


def test_multiword_gazetteer_surface(spark):
    """Multi-word surfaces match across any separator and canonicalize to
    the single-space form (regression: the old fallback silently never
    matched them)."""
    import datetime

    from tab2neo_spark.schema import PAGES_SCHEMA

    gaz = spark.createDataFrame(
        [("Place", "new york", "PL1"), ("Engine", "spark", "ENG1")],
        "class string, surface string, term_code string",
    )
    sa = spark.createDataFrame([], "a string, b string")
    rows = [
        ("u1", datetime.datetime(2024, 1, 1), b"<p>moved to New York!</p>", None, "en"),
        ("u2", datetime.datetime(2024, 1, 1), b"<p>new-york and new  york</p>", None, "en"),
        ("u3", datetime.datetime(2024, 1, 1), b"<p>newyork is not a match; york neither</p>", None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    kg = construct_kg(spark, pages, gazetteer=gaz, same_as=sa, unique_urls=True)
    got = {(r["subj"], r["obj"]) for r in kg.triples.filter("pred = 'MENTIONS'").collect()}
    assert got == {("u1", "Place:new york"), ("u2", "Place:new york")}


def test_unsupported_gazetteer_surface_raises(spark):
    import pytest as _pytest

    from tab2neo_spark.extract.mentions import detect_mentions

    gaz = spark.createDataFrame(
        [("X", "café", "T1")], "class string, surface string, term_code string"
    )
    docs = spark.createDataFrame([("u", "text")], "url string, text string")
    with _pytest.raises(NotImplementedError, match="token model"):
        detect_mentions(docs, gaz)


def test_empty_gazetteer_yields_page_nodes_only(spark):
    """An empty gazetteer runs the same page-keys path: every page still
    becomes a Page node, and no page has a mention."""
    import datetime

    from tab2neo_spark.schema import PAGES_SCHEMA

    gaz = spark.createDataFrame([], "class string, surface string, term_code string")
    sa = spark.createDataFrame([], "a string, b string")
    rows = [
        ("u1", datetime.datetime(2024, 1, 1), b"<p>spark join</p>", None, "en"),
        ("u2", datetime.datetime(2024, 1, 1), None, None, "en"),
    ]
    kg = construct_kg(spark, spark.createDataFrame(rows, PAGES_SCHEMA),
                      gazetteer=gaz, same_as=sa, unique_urls=True)
    nodes = {(r["class"], r["rdfs_label"]) for r in kg.nodes.collect()}
    assert nodes == {("Page", "u1"), ("Page", "u2")}
    assert kg.triples.count() == 0
    assert kg.edges.count() == 0
    kg.unpersist()


def test_connected_components_long_chain(spark):
    """Pointer-jumping: a 300-node chain converges well inside 50 rounds
    (one-hop propagation alone would need 300)."""
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(300)], "src string, dst string"
    )
    comp = connected_components(edges, max_iter=50)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 301
